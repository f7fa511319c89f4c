package graft.sources

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}

/** Pure-JVM reader/writer for a scoped subset of the HDF5 container — the
  * format behind NetCDF-4 (`\x89HDF\r\n\x1a\n` magic), which the classic
  * codec ([[NetCdf3]]) rejects. The reference reads NetCDF-4 transparently
  * through NetCDF-Java's CDM stack (`/root/reference/build.sbt:46`); no such
  * library exists here, so this implements the subset from the public HDF5
  * File Format Specification (III: "Disk Format Level 0-2").
  *
  * Supported subset:
  *  - default-format files (what h5py/netcdf-c emit WITHOUT latest-format
  *    flags): superblock version 0 or 1 (v1 adds the 1.6-era
  *    indexed-storage-k field), old-style groups (v1 B-tree + SNOD
  *    symbol nodes + local heap), version-1 object headers (with
  *    continuation blocks)
  *  - latest-format files (`H5F_LIBVER_LATEST` / h5py `libver='latest'`):
  *    superblock version 2/3 (Jenkins-lookup3 checksummed), version-2
  *    object headers (`OHDR`/`OCHK`, checksummed, incl. tracked attribute
  *    creation order and stored times), new-style groups via compact link
  *    messages OR dense storage (fractal-heap `FRHP`/`FHDB` managed link
  *    objects + name-index v2 b-tree `BTHD`/`BTLF`; root direct block, or
  *    `FHIB` indirect blocks traversed recursively through direct rows AND
  *    indirect children — the wide-group shape), dense ATTRIBUTE storage
  *    (per-object fractal heap + type-8 attribute-name-index v2 b-tree,
  *    what libhdf5 switches to past 8 attributes), dataspace v2,
  *    attribute messages v2/v3, data layout v4 with Single Chunk,
  *    Implicit (back-to-back unfiltered chunks), Fixed Array
  *    (`FAHD`/`FADB`, filtered and unfiltered clients), Extensible Array
  *    (`EAHD`/`EAIB`/`EASB`/`EADB` — libhdf5's index for ONE unlimited
  *    dimension, unpaged blocks) and v2 B-tree (record types 10/11, any
  *    depth) chunk indexes
  *  - messages: NIL, dataspace (v1/v2), datatype (fixed/float/string/
  *    reference/vlen), fill value (skipped), data layout v3 (contiguous +
  *    chunked) and v4 (contiguous + chunked single-chunk/implicit/
  *    fixed-array/extensible-array/v2-btree), filter pipeline (v1/v2),
  *    attribute (v1/v2/v3), object
  *    header continuation, symbol table, link info, link, group info,
  *    attribute info
  *  - chunked data via v1 chunk B-trees or the v4 indexes above, raw or
  *    filtered with the three filters netcdf-c/h5py emit by default:
  *    deflate (id 1), shuffle (id 2), fletcher32 (id 3) — any other filter
  *    id fails loudly
  *  - global heap collections for vlen data — enough for NetCDF-4's
  *    DIMENSION_LIST attributes (vlen of object references)
  *  - soft links (symbol-table cache type 2 AND link-message type 1) and
  *    external links (link-message class 64), resolved at open — data reads
  *    of an external-linked dataset redirect to the target file
  *  - tiny fractal-heap IDs in both sub-variants (normal ≤ 18-byte IDs,
  *    extended 12-bit-length IDs past that), and filtered (deflate)
  *    fractal heaps — root-direct-block and indirect-block layouts
  * Everything else (paged fixed arrays, paged extensible-array data
  * blocks, SOHM shared header messages, filters outside the trio,
  * user-defined link classes other than external) fails with an explicit
  * message, never a misparse.
  */
object Hdf5 {

  val Magic: Array[Byte] =
    Array(0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1A, '\n')

  def isHdf5(path: String): Boolean = {
    val raf = new RandomAccessFile(path, "r")
    try {
      if (raf.length() < 8) return false
      val b = new Array[Byte](8)
      raf.readFully(b)
      b.sameElements(Magic)
    } finally raf.close()
  }

  // ------------------------------------------------------------- data model

  /** Scalar element type of a dataset/attribute (little-endian on disk). */
  sealed trait DType { def size: Int }
  case object F32 extends DType { val size = 4 }
  case object F64 extends DType { val size = 8 }
  case object I8 extends DType { val size = 1 }
  case object I16 extends DType { val size = 2 }
  case object I32 extends DType { val size = 4 }
  case object I64 extends DType { val size = 8 }
  /** Fixed-length ASCII string (attributes only). */
  final case class Str(size: Int) extends DType
  /** 8-byte object-header-address reference. */
  case object ObjRef extends DType { val size = 8 }
  /** Variable-length sequence of `base` (16-byte heap descriptor on disk). */
  final case class Vlen(base: DType) extends DType { val size = 16 }

  sealed trait AttrValue
  final case class StrAttr(s: String) extends AttrValue
  final case class NumAttr(nums: Seq[Double]) extends AttrValue
  /** Resolved vlen-of-object-reference: the referenced dataset NAMES. */
  final case class RefListAttr(names: Seq[Seq[String]]) extends AttrValue

  final case class H5Attr(name: String, value: AttrValue)

  /** The format's "undefined address" sentinel (all-ones). */
  private val Undef: Long = -1L

  sealed trait Layout
  final case class Contiguous(addr: Long, size: Long) extends Layout
  /** Common shape of the two chunked layout encodings (v3 btree / v4 index). */
  sealed trait ChunkedLayout extends Layout { def chunkDims: Seq[Int] }
  /** chunkDims excludes the trailing element-size entry of the disk form. */
  final case class Chunked(btreeAddr: Long, chunkDims: Seq[Int]) extends ChunkedLayout
  /** Layout message v4 (latest-format): chunk location comes from one of the
    * spec's chunk indexes instead of a v1 B-tree.
    */
  final case class ChunkedV4(chunkDims: Seq[Int], index: ChunkIndex) extends ChunkedLayout

  sealed trait ChunkIndex
  /** Index type 1: the dataset is one chunk; `filtered` = (stored size, mask). */
  final case class SingleChunk(addr: Long, filtered: Option[(Long, Int)]) extends ChunkIndex
  /** Index type 2: unfiltered chunks stored back-to-back in row-major
    * chunk-grid order from `addr` — no directory at all (what early-allocated
    * unfiltered latest-format datasets use).
    */
  final case class ImplicitIndex(addr: Long) extends ChunkIndex
  /** Index type 3: Fixed Array (`FAHD` header + `FADB` data block). */
  final case class FixedArrayIndex(addr: Long, pageBits: Int) extends ChunkIndex
  /** Index type 4: Extensible Array (`EAHD` header → `EAIB` index block →
    * `EASB` super blocks → `EADB` data blocks) — what libhdf5 uses for a
    * chunked dataset with ONE unlimited dimension, i.e. the appendable
    * archive shape. The creation parameters ride in the layout message AND
    * the `EAHD`; the reader cross-requires they agree.
    */
  final case class ExtensibleArrayIndex(addr: Long, maxBits: Int, idxElmts: Int,
      minPtrs: Int, minElmts: Int, pageBits: Int) extends ChunkIndex
  /** Index type 5: v2 B-tree of chunk records (record type 10 unfiltered /
    * 11 filtered) — what libhdf5 uses for ≥ 2 unlimited dimensions.
    */
  final case class Btree2Index(addr: Long, nodeSize: Int) extends ChunkIndex

  /** A chunk filter, in PIPELINE (write) order; reads apply the inverses in
    * reverse order. The ids are the format's registered values.
    */
  sealed trait H5Filter
  /** zlib/deflate, id 1; `level` is advisory metadata on read. */
  final case class Deflate(level: Int) extends H5Filter
  /** byte-transpose by element size, id 2. */
  final case class Shuffle(elemSize: Int) extends H5Filter
  /** trailing 4-byte Fletcher-32 checksum, id 3 — verified, then stripped. */
  case object Fletcher32 extends H5Filter

  final case class H5Dataset(
      name: String, ohAddr: Long, dims: Seq[Long], dtype: DType,
      layout: Layout, attrs: Seq[H5Attr], filters: Seq[H5Filter] = Nil,
      /** Set when the dataset was reached through an EXTERNAL link: the
        * resolved file its layout addresses live in. Data reads redirect
        * there; metadata (dims/dtype/attrs) is already materialized.
        */
      extFile: Option[String] = None,
      /** The fill value message's defined value, decoded with `dtype`: what
        * an unallocated chunk reads as. None when the file leaves it
        * undefined, in which case the format's default 0 applies.
        */
      fillValue: Option[Double] = None) {
    def attr(n: String): Option[H5Attr] = attrs.find(_.name == n)
    /** The value of a cell no chunk holds. */
    def fill: Double = fillValue.getOrElse(0.0)
    def elems: Long = if (dims.isEmpty) 1L else dims.product
  }

  final case class H5File(path: String, datasets: Seq[H5Dataset],
      rootAttrs: Seq[H5Attr] = Nil) {
    def dataset(n: String): Option[H5Dataset] = datasets.find(_.name == n)
  }

  // ------------------------------------------------------------------ read

  private final class Reader(raf: RandomAccessFile) {
    def bytes(pos: Long, n: Int): Array[Byte] = {
      val b = new Array[Byte](n)
      raf.seek(pos)
      raf.readFully(b)
      b
    }
    def at(pos: Long, n: Int): ByteBuffer =
      ByteBuffer.wrap(bytes(pos, n)).order(ByteOrder.LITTLE_ENDIAN)
  }

  /** Jenkins lookup3 `hashlittle` — the format's metadata checksum
    * (H5_checksum_lookup3): superblock v2/3, v2 object headers, and
    * fixed-array blocks all end in one. Public algorithm (Bob Jenkins,
    * lookup3.c, 2006); verified against its published test vectors in
    * Hdf5Spec.
    */
  private[graft] def lookup3(data: Array[Byte], init: Int = 0): Int = {
    @inline def rot(x: Int, k: Int): Int = Integer.rotateLeft(x, k)
    var a = 0xDEADBEEF + data.length + init
    var b = a; var c = a
    var i = 0; var len = data.length
    @inline def k(j: Int): Int = data(i + j) & 0xFF
    while (len > 12) {
      a += k(0) | (k(1) << 8) | (k(2) << 16) | (k(3) << 24)
      b += k(4) | (k(5) << 8) | (k(6) << 16) | (k(7) << 24)
      c += k(8) | (k(9) << 8) | (k(10) << 16) | (k(11) << 24)
      a -= c; a ^= rot(c, 4); c += b
      b -= a; b ^= rot(a, 6); a += c
      c -= b; c ^= rot(b, 8); b += a
      a -= c; a ^= rot(c, 16); c += b
      b -= a; b ^= rot(a, 19); a += c
      c -= b; c ^= rot(b, 4); b += a
      i += 12; len -= 12
    }
    if (len == 0) return c // zero trailing bytes: no final mix
    if (len >= 12) c += k(11) << 24
    if (len >= 11) c += k(10) << 16
    if (len >= 10) c += k(9) << 8
    if (len >= 9) c += k(8)
    if (len >= 8) b += k(7) << 24
    if (len >= 7) b += k(6) << 16
    if (len >= 6) b += k(5) << 8
    if (len >= 5) b += k(4)
    if (len >= 4) a += k(3) << 24
    if (len >= 3) a += k(2) << 16
    if (len >= 2) a += k(1) << 8
    a += k(0)
    c ^= b; c -= rot(b, 14)
    a ^= c; a -= rot(c, 11)
    b ^= a; b -= rot(a, 25)
    c ^= b; c -= rot(b, 16)
    a ^= c; a -= rot(c, 4)
    b ^= a; b -= rot(a, 14)
    c ^= b; c -= rot(b, 24)
    c
  }

  def open(path: String): H5File =
    openDepth(path, 0, scala.collection.mutable.Map.empty)

  /** [[open]] with an external-link hop counter — each `GExt` resolution
    * re-enters here with `depth + 1`, so a link cycle across files fails
    * loudly instead of recursing forever — and a per-open parse cache: a
    * stub file carrying K external links into one payload parses that
    * payload once, not K times (the virtual-aggregation shape).
    */
  private def openDepth(path: String, depth: Int,
      opened: scala.collection.mutable.Map[String, H5File]): H5File = {
    require(depth <= 8,
      s"$path: external link chain deeper than 8 files (cycle?)")
    val raf = new RandomAccessFile(path, "r")
    try {
      val r = new Reader(raf)
      require(raf.length() >= 8 && {
        val m = new Array[Byte](8); raf.seek(0); raf.readFully(m)
        m.sameElements(Magic)
      }, s"$path: not an HDF5 file (bad signature)")
      val sbVersion = r.at(8, 1).get()
      val rootOh: Long = sbVersion match {
        case 0 | 1 =>
          // v1 = v0 plus a 2-byte Indexed Storage Internal Node K (+ 2
          // reserved) between the group ks and the consistency flags —
          // what 1.6-era libhdf5 writes when istore_k departs the default.
          // The k itself shapes WRITERS' v1 chunk b-tree splits; reading
          // is self-describing, so the field is skipped once parsed past.
          val sb = r.at(0, if (sbVersion == 1) 100 else 96)
          sb.position(9)
          sb.get(); sb.get(); sb.get(); sb.get() // freespace/root-group/reserved/shared versions
          val offSize = sb.get(); val lenSize = sb.get()
          require(offSize == 8 && lenSize == 8,
            s"$path: only 8-byte offsets/lengths supported (got $offSize/$lenSize)")
          sb.get() // reserved
          sb.getShort(); sb.getShort() // group leaf/internal k
          if (sbVersion == 1) { sb.getShort(); sb.getShort() } // istore k + reserved
          sb.getInt() // file consistency flags
          val baseAddr = sb.getLong()
          require(baseAddr == 0, s"$path: nonzero base address $baseAddr unsupported")
          sb.getLong(); sb.getLong(); sb.getLong() // freespace, EOF, driver info
          // root group symbol table entry
          sb.getLong() // link name offset
          sb.getLong()
        case 2 | 3 =>
          // the 48-byte latest-format superblock, Jenkins-lookup3 checksummed
          val raw = r.bytes(0, 48)
          val sb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
          sb.position(9)
          val offSize = sb.get(); val lenSize = sb.get()
          require(offSize == 8 && lenSize == 8,
            s"$path: only 8-byte offsets/lengths supported (got $offSize/$lenSize)")
          sb.get() // file consistency flags
          val baseAddr = sb.getLong()
          require(baseAddr == 0, s"$path: nonzero base address $baseAddr unsupported")
          sb.getLong() // superblock extension (SOHM etc.) — not consulted
          sb.getLong() // EOF
          val oh = sb.getLong()
          val stored = sb.getInt()
          val computed = lookup3(java.util.Arrays.copyOf(raw, 44))
          require(stored == computed,
            f"$path: superblock checksum mismatch (stored 0x$stored%08x, computed 0x$computed%08x)")
          oh
        case v => throw new IllegalArgumentException(
          s"$path: superblock version $v unsupported (subset reads 0, 1, 2, 3)")
      }
      // scratch btree/heap addresses in the v0 superblock are a cache; read
      // the authoritative group shape from the root object header instead —
      // a symbol table message (old-style) or compact link messages (latest)
      val (rootMsgs, _) = readObjectHeader(r, rootOh, path)
      val entries: Seq[GEntry] =
        rootMsgs.collectFirst { case m: SymbolTableMsg => m } match {
          case Some(st) => readGroupEntries(r, st.btreeAddr, st.heapAddr, path)
          case None =>
            rootMsgs.collectFirst {
              case LinkInfoMsg(fh, bt) if fh != Undef => (fh, bt)
            } match {
              case Some((fh, bt)) => readDenseLinks(r, fh, bt, path)
              case None =>
                val links = rootMsgs.collect {
                  case LinkMsg(n, a) => GHard(n, a): GEntry
                  case SoftLinkMsg(n, t) => GSoft(n, t): GEntry
                  case ExtLinkMsg(n, f, t) => GExt(n, f, t): GEntry
                }
                require(links.nonEmpty,
                  s"$path: root group has neither a symbol table nor link messages")
                links.sortBy(_.name)
            }
        }
      val hard = entries.collect { case GHard(n, a) => (n, a) }
      // two passes: names first (so object references resolve), then
      // bodies — object references resolve against HARD names only (the
      // address's canonical name), never a link alias
      val addrToName = hard.map { case (n, a) => a -> n }.toMap
      val hardDs = hard.map { case (name, addr) =>
        readDataset(r, name, addr, addrToName, path)
      }
      val byName = hardDs.map(d => d.name -> d).toMap
      val entryByName = entries.map(e => e.name -> e).toMap
      /** A link target path inside THIS file — flat root, so exactly one
        * component; the leading '/' of an absolute path is accepted.
        */
      def component(kind: String, name: String, target: String): String = {
        val t = target.stripPrefix("/")
        require(t.nonEmpty && !t.contains("/"),
          s"$path: $kind link '$name' -> '$target': nested group paths unsupported")
        t
      }
      def resolve(e: GEntry, seen: Set[String]): H5Dataset = e match {
        case GHard(n, a) => byName(addrToName(a))
        case GSoft(n, target) =>
          val t = component("soft", n, target)
          require(!seen(t), s"$path: soft link cycle through '$n' -> '$target'")
          val te = entryByName.getOrElse(t, throw new IllegalArgumentException(
            s"$path: dangling soft link '$n' -> '$target'"))
          resolve(te, seen + t)
        case GExt(n, file, target) =>
          // relative target files resolve against the linking file's
          // directory — libhdf5's first default search path
          val base = new java.io.File(path).getAbsoluteFile.getParentFile
          val resolvedFile =
            if (new java.io.File(file).isAbsolute) file
            else new java.io.File(base, file).getPath
          require(new java.io.File(resolvedFile).isFile,
            s"$path: external link '$n' -> '$file': file not found")
          val t = component("external", n, target)
          // cycles stay caught: a file still being parsed is not yet in
          // the cache, so re-entry recurses into the depth guard
          val tf = opened.getOrElseUpdate(
            new java.io.File(resolvedFile).getCanonicalPath,
            openDepth(resolvedFile, depth + 1, opened))
          val td = tf.dataset(t).getOrElse(throw new IllegalArgumentException(
            s"$path: dangling external link '$n' -> '$file:/$t'"))
          // keep the INNER redirect when the target was itself ext-linked
          td.copy(extFile = td.extFile.orElse(Some(resolvedFile)))
      }
      val linkDs = entries.collect { case e @ (_: GSoft | _: GExt) =>
        resolve(e, Set(e.name)).copy(name = e.name)
      }
      val datasets = (hardDs ++ linkDs).sortBy(_.name)
      // attributes on the root group = NetCDF-4 global attributes
      H5File(path, datasets, attrsOf(r, rootMsgs, addrToName, path))
    } finally raf.close()
  }

  /** One root-group member as stored, before link resolution: a hard entry
    * (object header address), a soft link (in-file path), or an external
    * link (file + path). [[open]] resolves the link kinds to datasets.
    */
  private sealed trait GEntry { def name: String }
  private final case class GHard(name: String, ohAddr: Long) extends GEntry
  private final case class GSoft(name: String, target: String) extends GEntry
  private final case class GExt(name: String, file: String,
      target: String) extends GEntry

  /** Walk a v1 group B-tree to its SNOD leaves; returns the group members
    * in name order. Symbol-table entries carry hard members (cache type 0
    * or 1) and soft links (cache type 2: the scratch pad's first 4 bytes
    * are the link value's local-heap offset — spec III.C); external links
    * never appear here (libhdf5 stores them as link messages only).
    */
  private def readGroupEntries(r: Reader, btreeAddr: Long, heapAddr: Long,
      path: String): Seq[GEntry] = {
    val heap = r.at(heapAddr, 32)
    val hm = new Array[Byte](4); heap.get(hm)
    require(hm.sameElements("HEAP".getBytes), s"$path: bad local heap signature")
    heap.get(); heap.get(); heap.get(); heap.get() // version + reserved
    val heapSize = heap.getLong(); heap.getLong()
    val heapData = r.at(heap.getLong(), heapSize.toInt)

    def heapName(off: Long): String = {
      val sb = new StringBuilder
      var i = off.toInt
      while (heapData.get(i) != 0) { sb.append(heapData.get(i).toChar); i += 1 }
      sb.toString
    }

    def walk(addr: Long): Seq[GEntry] = {
      val head = r.at(addr, 8)
      val sig = new Array[Byte](4); head.get(sig)
      if (sig.sameElements("SNOD".getBytes)) {
        head.get(); head.get() // version + reserved
        val nsyms = head.getShort()
        val ent = r.at(addr + 8, nsyms * 40)
        (0 until nsyms).map { _ =>
          val nameOff = ent.getLong()
          val oh = ent.getLong()
          val cacheType = ent.getInt(); ent.getInt() // cache type + reserved
          val scratch0 = ent.getInt() // soft links: link-value heap offset
          ent.position(ent.position() + 12) // rest of scratch
          val name = heapName(nameOff)
          cacheType match {
            case 0 | 1 => GHard(name, oh)
            case 2 => GSoft(name, heapName(scratch0.toLong & 0xFFFFFFFFL))
            case t => throw new IllegalArgumentException(
              s"$path: symbol table entry '$name' cache type $t unsupported")
          }
        }
      } else {
        require(sig.sameElements("TREE".getBytes), s"$path: bad group node signature")
        val b = r.at(addr + 4, 20)
        val nodeType = b.get(); val level = b.get()
        require(nodeType == 0, s"$path: unexpected btree node type $nodeType in group")
        val used = b.getShort()
        b.getLong(); b.getLong() // siblings
        // keys and children interleave: key0 child0 key1 … childN-1 keyN
        val kc = r.at(addr + 24, used * 16 + 8)
        val children = (0 until used).map { _ =>
          kc.getLong() // key (heap offset) — unused for full traversal
          kc.getLong() // child address
        }
        children.flatMap(c => walk(c))
      }
    }
    // level-0 btrees point directly at SNODs; deeper trees recurse
    walk(btreeAddr).sortBy(_.name)
  }

  // ---- dense (fractal-heap) group storage

  /** The managed-object geometry of a fractal heap (spec III.G `FRHP`),
    * plus the huge-object index address (Undef when the heap holds none).
    */
  private final case class FractalHeap(idLen: Int, flags: Int,
      maxManagedSize: Long, tableWidth: Int, startBlockSize: Long,
      maxDirectSize: Long, maxHeapBits: Int, rootAddr: Long, curRows: Int,
      allocManagedSpace: Long, hugeBtAddr: Long,
      /** I/O filter pipeline applied to every DIRECT block (deflate for
        * compressed group metadata); empty = unfiltered heap.
        */
      filters: Seq[H5Filter] = Nil,
      /** on-disk size + filter mask of the root direct block — present in
        * the header only when the heap is filtered AND the root is a
        * direct block (curRows == 0); indirect layouts keep per-block
        * sizes in the FHIB entries instead
        */
      filteredRootSize: Long = 0L, rootFilterMask: Int = 0) {
    /** heap-offset field width in IDs/blocks: min bytes for the heap space */
    def offSize: Int = (maxHeapBits + 7) / 8
    /** object-length field width in IDs: min bytes for max managed size */
    def lenSize: Int = { // H5VM_limit_enc_size: (log2(v) / 8) + 1
      var n = 0; var x = maxManagedSize
      while (x > 0) { x >>= 1; n += 1 }
      (math.max(n - 1, 0) / 8) + 1
    }
    /** direct-block header bytes: sig + ver + heap addr + offset + checksum */
    def directHeaderSize: Int = 4 + 1 + 8 + offSize + (if ((flags & 2) != 0) 4 else 0)
  }

  /** `FRHP` fractal heap header: fixed 142-byte prefix, then — filtered
    * heaps only — the root-direct-block size + mask (when the root IS a
    * direct block) and the I/O filter pipeline message, then checksum.
    */
  private def parseFrhp(r: Reader, addr: Long, path: String): FractalHeap = {
    val raw0 = r.bytes(addr, 146)
    val b = ByteBuffer.wrap(raw0).order(ByteOrder.LITTLE_ENDIAN)
    val sig = new Array[Byte](4); b.get(sig)
    require(sig.sameElements("FRHP".getBytes), s"$path: bad fractal heap signature")
    require(b.get() == 0, s"$path: fractal heap version unsupported")
    val idLen = b.getShort() & 0xFFFF
    val filterLen = b.getShort() & 0xFFFF
    val flags = b.get() & 0xFF
    val maxManaged = b.getInt().toLong & 0xFFFFFFFFL
    b.getLong() // next huge object id
    val hugeBtAddr = b.getLong() // huge-object v2-btree address
    b.getLong(); b.getLong() // free space, free-space manager address
    b.getLong() // managed space
    val allocManaged = b.getLong() // allocated managed space
    b.getLong() // direct-block allocation iterator offset
    b.getLong() // number of managed objects
    val hugeN = { b.getLong(); b.getLong() } // huge size, huge count
    val tinyN = { b.getLong(); b.getLong() } // tiny size, tiny count
    require(hugeN == 0 || hugeBtAddr != Undef,
      s"$path: $hugeN huge objects declared but no huge-object index")
    locally { val _ = tinyN } // tiny objects live inline in their heap IDs
    val width = b.getShort() & 0xFFFF
    val startSize = b.getLong()
    val maxDirect = b.getLong()
    val maxHeapBits = b.getShort() & 0xFFFF
    b.getShort() // starting rows in root indirect block
    val rootAddr = b.getLong()
    val curRows = b.getShort() & 0xFFFF
    // optional filter fields between the fixed prefix and the checksum
    val hasRootFields = filterLen > 0 && curRows == 0
    val extra =
      if (filterLen > 0) (if (hasRootFields) 12 else 0) + filterLen else 0
    val raw = if (extra == 0) raw0 else r.bytes(addr, 142 + extra + 4)
    val ob = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    ob.position(142)
    val (filteredRootSize, rootMask) =
      if (hasRootFields) (ob.getLong(), ob.getInt()) else (0L, 0)
    val filters =
      if (filterLen == 0) Nil
      else {
        val fb = new Array[Byte](filterLen); ob.get(fb)
        parseFilters(ByteBuffer.wrap(fb).order(ByteOrder.LITTLE_ENDIAN), path)
      }
    val stored = ob.getInt()
    val computed = lookup3(java.util.Arrays.copyOf(raw, 142 + extra))
    require(stored == computed,
      f"$path: fractal heap checksum mismatch (stored 0x$stored%08x)")
    FractalHeap(idLen, flags, maxManaged, width, startSize, maxDirect,
      maxHeapBits, rootAddr, curRows, allocManaged, hugeBtAddr,
      filters, filteredRootSize, rootMask)
  }

  /** The heap's huge-object directory: id → (file address, length), from the
    * type-1 ("huge, indirectly accessed, unfiltered") v2 b-tree — record =
    * address (8) + length (8) + id (8). Empty when the heap holds none.
    */
  private def hugeObjects(r: Reader, fh: FractalHeap,
      path: String): Map[Long, (Long, Long)] =
    if (fh.hugeBtAddr == Undef) Map.empty
    else {
      // a filtered heap's huge objects use v2-btree record type 3
      // (address + FILTERED length + mask + memory size) — out of subset
      require(fh.filters.isEmpty,
        s"$path: filtered huge heap objects unsupported")
      val (hb, n) = readBtreeLeaf(r, fh.hugeBtAddr, 1, 24, "huge-object", path)
      (0 until n).map { _ =>
        val addr = hb.getLong(); val len = hb.getLong(); val id = hb.getLong()
        id -> (addr, len)
      }.toMap
    }

  /** Size of the doubling-table row `row`: rows 0–1 use the starting block
    * size, then each row doubles.
    */
  private def rowBlockSize(fh: FractalHeap, row: Int): Long =
    if (row < 2) fh.startBlockSize else fh.startBlockSize << (row - 1)

  /** A validated, in-memory direct block: its heap-space extent plus its
    * (checksum-verified) bytes. Loading a block once and serving every
    * managed object from memory keeps link resolution at one read per
    * BLOCK, not one per link.
    */
  private final class DirectBlock(val start: Long, val size: Long,
      val bytes: Array[Byte])

  /** Load + validate one direct block: FHDB signature/version, owning-heap
    * back-pointer, stored block offset, and (when the heap flags say the
    * blocks are checksummed) the lookup3 checksum computed over the whole
    * block with its checksum field zeroed. Filtered heaps store each
    * direct block COMPRESSED (`storedSize` on-disk bytes, from the FRHP
    * header for a root direct block or the parent FHIB entry otherwise);
    * the pipeline inverts to the logical `size` before any field checks,
    * so signature/offset/checksum always validate plaintext.
    */
  private def loadDirectBlock(r: Reader, fh: FractalHeap, addr: Long,
      start: Long, size: Long, heapAddr: Long, path: String,
      storedSize: Long = -1L, filterMask: Int = 0): DirectBlock = {
    val raw =
      if (fh.filters.isEmpty) r.bytes(addr, size.toInt)
      else {
        require(storedSize > 0,
          s"$path: filtered direct block at $addr with no stored size")
        defilterChunk(r.bytes(addr, storedSize.toInt), filterMask,
          fh.filters, size.toInt, path)
      }
    val b = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val sig = new Array[Byte](4); b.get(sig)
    require(sig.sameElements("FHDB".getBytes), s"$path: bad direct block signature")
    require(b.get() == 0, s"$path: direct block version unsupported")
    require(b.getLong() == heapAddr, s"$path: direct block heap back-pointer mismatch")
    require(uintVar(b, fh.offSize) == start,
      s"$path: direct block offset mismatch (expected $start)")
    if ((fh.flags & 2) != 0) {
      val ckPos = b.position()
      val stored = b.getInt()
      val zeroed = raw.clone()
      java.util.Arrays.fill(zeroed, ckPos, ckPos + 4, 0.toByte)
      val computed = lookup3(zeroed)
      require(stored == computed,
        f"$path: direct block checksum mismatch (stored 0x$stored%08x)")
    }
    new DirectBlock(start, size, raw)
  }

  /** Rows 0 .. maxDirectRows−1 of the doubling table hold DIRECT blocks;
    * rows past that hold INDIRECT children (spec III.G: `max_direct_rows =
    * log2(max direct size) − log2(starting size) + 2`). Both sizes are
    * enforced powers of two, so the log is exact.
    */
  private def maxDirectRows(fh: FractalHeap): Int =
    63 - java.lang.Long.numberOfLeadingZeros(fh.maxDirectSize / fh.startBlockSize) + 2

  /** One indirect block (`FHIB`, spec III.G): header + row-major child
    * addresses + checksum. Rows below [[maxDirectRows]] point at direct
    * blocks of the row's doubling-table size; higher rows point at CHILD
    * indirect blocks, each spanning exactly that row's block size of heap
    * space with `row − log2(width)` rows of its own table (libhdf5's
    * `H5HF_dtable_size_to_rows`) — recursion makes the depth unbounded,
    * which is how a wide group's link heap actually grows at scale.
    * Validated per block: signature, version, owning-heap back-pointer,
    * the stored heap offset against the offset the TREE position implies,
    * and the trailing Jenkins-lookup3 checksum (indirect blocks are always
    * checksummed, independent of the direct-block checksum flag).
    */
  private def loadIndirectBlock(r: Reader, fh: FractalHeap, addr: Long,
      baseOff: Long, nrows: Int, heapAddr: Long,
      path: String): Seq[DirectBlock] = {
    require(Integer.bitCount(fh.tableWidth) == 1 && fh.tableWidth >= 2,
      s"$path: fractal heap table width ${fh.tableWidth} is not a power of two")
    val logW = Integer.numberOfTrailingZeros(fh.tableWidth)
    val mdr = maxDirectRows(fh)
    val headSize = 4 + 1 + 8 + fh.offSize
    // a filtered heap's DIRECT-child entries widen to address + stored
    // (compressed) size + 4-byte filter mask; indirect children stay
    // address-only (spec III.G, libhdf5 H5HF__cache_iblock_deserialize)
    val dEntry = if (fh.filters.isEmpty) 8 else 8 + 8 + 4
    val ndRows = math.min(nrows, mdr)
    val total = headSize + ndRows * fh.tableWidth * dEntry +
      math.max(0, nrows - mdr) * fh.tableWidth * 8 + 4
    val raw = r.bytes(addr, total)
    val ib = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val sig = new Array[Byte](4); ib.get(sig)
    require(sig.sameElements("FHIB".getBytes), s"$path: bad indirect block signature")
    require(ib.get() == 0, s"$path: indirect block version unsupported")
    require(ib.getLong() == heapAddr, s"$path: indirect block heap back-pointer mismatch")
    require(uintVar(ib, fh.offSize) == baseOff,
      s"$path: indirect block offset mismatch (expected $baseOff)")
    locally {
      val stored = ByteBuffer.wrap(raw, total - 4, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt()
      val computed = lookup3(java.util.Arrays.copyOf(raw, total - 4))
      require(stored == computed,
        f"$path: indirect block checksum mismatch (stored 0x$stored%08x)")
    }
    val blocks = scala.collection.mutable.ArrayBuffer[DirectBlock]()
    var rowStart = 0L
    for (row <- 0 until nrows) {
      val bs = rowBlockSize(fh, row)
      for (col <- 0 until fh.tableWidth) {
        val child = ib.getLong()
        val (fSize, fMask) =
          if (row < mdr && fh.filters.nonEmpty) (ib.getLong(), ib.getInt())
          else (-1L, 0)
        if (child != Undef) {
          val off = baseOff + rowStart + col * bs
          if (row < mdr)
            blocks += loadDirectBlock(r, fh, child, off, bs, heapAddr, path,
              fSize, fMask)
          else {
            val childRows = row - logW
            require(childRows >= 1 && childRows < 64,
              s"$path: indirect child at row $row implies $childRows rows " +
                "(inconsistent fractal heap header)")
            blocks ++= loadIndirectBlock(r, fh, child, off, childRows,
              heapAddr, path)
          }
        }
      }
      rowStart += bs * fh.tableWidth
    }
    blocks.toSeq
  }

  /** Resolve every direct block of the heap's managed space up front. Root
    * may be a single direct block (curRows = 0) or an indirect block
    * traversed recursively through [[loadIndirectBlock]] — direct rows,
    * then indirect children once the heap outgrows the root's direct rows
    * (the many-link wide-group shape). Blocks at undefined addresses
    * (never allocated) are skipped.
    */
  private def loadDirectBlocks(r: Reader, fh: FractalHeap, heapAddr: Long,
      path: String): Seq[DirectBlock] = {
    if (fh.curRows == 0) {
      // libhdf5 doubles the root direct block IN PLACE past the starting
      // size (tracking it via Allocated Managed Space) before switching to
      // an indirect root, so the root block's size is the allocated managed
      // space when recorded, not necessarily startBlockSize. The stored
      // block-offset and (when flagged) lookup3 checksum over the full
      // block still cross-check whichever size we derive here.
      val rootSize =
        if (fh.allocManagedSpace > 0) fh.allocManagedSpace else fh.startBlockSize
      // libhdf5 only ever grows the root block by doubling, so the alloc
      // field must be startBlockSize × 2^k — anything else is a corrupt or
      // hand-built header, and (absent the checksummed-direct-blocks flag)
      // there is no checksum to catch it downstream, so reject it here.
      val quot = rootSize / fh.startBlockSize
      require(rootSize % fh.startBlockSize == 0 && quot > 0 &&
          (quot & (quot - 1)) == 0,
        s"$path: allocated managed space $rootSize is not a power-of-two " +
          s"doubling of the starting block size ${fh.startBlockSize} " +
          "(inconsistent fractal heap header)")
      require(rootSize <= fh.maxDirectSize,
        s"$path: root direct block of $rootSize bytes exceeds the max direct " +
          s"block size ${fh.maxDirectSize} (inconsistent fractal heap header)")
      Seq(loadDirectBlock(r, fh, fh.rootAddr, 0L, rootSize, heapAddr, path,
        fh.filteredRootSize, fh.rootFilterMask))
    }
    else loadIndirectBlock(r, fh, fh.rootAddr, 0L, fh.curRows, heapAddr, path)
  }

  /** Read one heap object's bytes given its heap ID. Managed objects
    * (type 0: flags byte + variable-width offset and length) are served
    * from the pre-loaded direct blocks; HUGE objects (type 1: flags byte +
    * huge object id, the > max-managed-size case — e.g. a large array
    * attribute) resolve through the heap's huge-object v2 b-tree to a
    * direct file read; TINY objects (type 2, normal sub-variant: length−1
    * in the flag byte's low 4 bits, data inline in the remaining ID bytes —
    * libhdf5's H5HF_ID_TYPE_HUGE 0x10 / H5HF_ID_TYPE_TINY 0x20, spec
    * III.G) decode straight out of the ID. Only the extended tiny
    * sub-variant (heap ID length > 18) stays loud-fail.
    */
  private def readHeapObject(r: Reader, fh: FractalHeap,
      blocks: Seq[DirectBlock], huge: Map[Long, (Long, Long)],
      id: Array[Byte], path: String): Array[Byte] = {
    val b = ByteBuffer.wrap(id).order(ByteOrder.LITTLE_ENDIAN)
    val f = b.get() & 0xFF
    require((f >> 6) == 0, s"$path: heap ID version ${f >> 6} unsupported")
    (f >> 4) & 3 match {
      case 0 => // managed
      case 1 => // huge (indirect): remaining ID bytes are the b-tree key
        var hid = 0L
        var i = 0
        while (i < fh.idLen - 1) { hid |= (b.get().toLong & 0xFF) << (8 * i); i += 1 }
        val (addr, len) = huge.getOrElse(hid,
          throw new IllegalArgumentException(
            s"$path: huge object id $hid missing from the huge-object index"))
        return r.bytes(addr, len.toInt)
      case 2 => // tiny: data inline in the ID itself. Normal sub-variant
        // (idLen <= 18): length-1 in the flag byte's low 4 bits. Extended
        // sub-variant (idLen > 18): a 12-bit length-1 split across the flag
        // byte's low nibble (high 4 bits) and one extra byte (low 8) —
        // libhdf5's H5HF_TINY_MASK_EXT_1/2 encoding.
        val ext = fh.idLen > 18
        val len =
          if (ext) (((f & 0x0F) << 8) | (b.get() & 0xFF)) + 1
          else (f & 0x0F) + 1
        val hdr = if (ext) 2 else 1
        require(hdr + len <= id.length,
          s"$path: tiny heap object ($len bytes) overruns its ${id.length}-byte ID")
        return java.util.Arrays.copyOfRange(id, hdr, hdr + len)
      case t =>
        throw new IllegalArgumentException(s"$path: heap ID type $t unsupported")
    }
    val off = uintVar(b, fh.offSize)
    val len = uintVar(b, fh.lenSize)
    val blk = blocks.find(d => off >= d.start && off < d.start + d.size)
      .getOrElse(throw new IllegalArgumentException(
        s"$path: heap offset $off outside every allocated direct block"))
    // the block's offset space includes its own header, and the object must
    // end inside the block — both bounds checked, never a misparse
    require(off - blk.start >= fh.directHeaderSize,
      s"$path: heap object offset $off inside direct-block header")
    require(off + len <= blk.start + blk.size,
      s"$path: heap object at $off+$len overruns its direct block")
    java.util.Arrays.copyOfRange(blk.bytes,
      (off - blk.start).toInt, (off - blk.start + len).toInt)
  }

  /** Walk a name-index v2 B-tree (`BTHD` header, spec III.B) and return ALL
    * record bytes back-to-back plus the record count — every node
    * Jenkins-lookup3 checksum-verified, ANY depth: depth 0 (root = one
    * `BTLF` leaf, the below-~400-entry common case), depth 1 (`BTIN`
    * internal root over leaves, the many-link/many-attribute shape), and
    * depth ≥ 2 (internal-over-internal, ≈100k+ entries at the default node
    * size) all traverse through the per-depth geometry derived from the
    * header. Record ordering across nodes is NOT restored — callers sort by
    * name afterwards.
    */
  private def readBtreeLeaf(r: Reader, btAddr: Long, expType: Int,
      expRecSize: Int, what: String, path: String): (ByteBuffer, Int) = {
    val raw = r.bytes(btAddr, 38)
    val b = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val sig = new Array[Byte](4); b.get(sig)
    require(sig.sameElements("BTHD".getBytes), s"$path: bad v2 b-tree signature")
    require(b.get() == 0, s"$path: v2 b-tree version unsupported")
    val btType = b.get() & 0xFF
    require(btType == expType, s"$path: v2 b-tree type $btType is not a $what index")
    val nodeSize = b.getInt()
    val recSize = b.getShort() & 0xFFFF
    val depth = b.getShort() & 0xFFFF
    b.get(); b.get() // split / merge percents
    val rootAddr = b.getLong()
    val nrecRoot = b.getShort() & 0xFFFF
    val totalRec = b.getLong()
    val stored = b.getInt()
    val computed = lookup3(java.util.Arrays.copyOf(raw, 34))
    require(stored == computed,
      f"$path: v2 b-tree header checksum mismatch (stored 0x$stored%08x)")
    require(recSize == expRecSize,
      s"$path: $what record size $recSize != expected $expRecSize")

    /** One BTLF's records appended to `out` (checksum-verified). */
    def readLeaf(addr: Long, nrec: Int, out: java.io.ByteArrayOutputStream): Unit = {
      val leafRaw = r.bytes(addr, 4 + 1 + 1 + nrec * recSize + 4)
      val lb = ByteBuffer.wrap(leafRaw).order(ByteOrder.LITTLE_ENDIAN)
      val lsig = new Array[Byte](4); lb.get(lsig)
      require(lsig.sameElements("BTLF".getBytes), s"$path: bad v2 b-tree leaf signature")
      require(lb.get() == 0, s"$path: v2 b-tree leaf version unsupported")
      require((lb.get() & 0xFF) == expType, s"$path: v2 b-tree leaf type mismatch")
      val storedLeaf = lb.getInt(leafRaw.length - 4)
      val computedLeaf = lookup3(java.util.Arrays.copyOf(leafRaw, leafRaw.length - 4))
      require(storedLeaf == computedLeaf,
        f"$path: v2 b-tree leaf checksum mismatch (stored 0x$storedLeaf%08x)")
      out.write(leafRaw, 6, nrec * recSize)
    }

    // Per-depth geometry (libhdf5's formulas, spec III.B.2): every
    // "number of records" pointer field uses ONE width — the bytes needed
    // for the LEAF capacity (the largest node type); a pointer to a
    // depth-d ≥ 1 subtree additionally carries the subtree's total record
    // count in the width of that depth's cumulative maximum
    // cum(d) = (maxRec(d)+1)·cum(d−1) + maxRec(d), and internal capacity
    // maxRec(d) = (nodeSize − 10 − ptr(d)) / (recSize + ptr(d)) with
    // ptr(d) = 8 + nrecWidth + cumWidth(d−1).
    val maxLeafRec = (nodeSize - 10) / recSize
    require(maxLeafRec >= 1, s"$path: implausible v2 b-tree geometry")
    def bytesFor(v: Long): Int =
      (63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, v)) + 8) / 8
    val nrecWidth = bytesFor(maxLeafRec.toLong)
    // (maxRec, cumMax, cumWidth) indexed by depth; depth 0 = leaves
    val geo = new Array[(Long, Long, Int)](depth + 1)
    geo(0) = (maxLeafRec.toLong, maxLeafRec.toLong, bytesFor(maxLeafRec.toLong))
    (1 to depth).foreach { d =>
      val ptr = 8 + nrecWidth + (if (d >= 2) geo(d - 1)._3 else 0)
      val maxRec = (nodeSize - 10 - ptr) / (recSize + ptr)
      require(maxRec >= 1, s"$path: implausible v2 b-tree internal geometry at depth $d")
      val cum = (maxRec + 1).toLong * geo(d - 1)._2 + maxRec
      geo(d) = (maxRec.toLong, cum, bytesFor(cum))
    }

    val out = new java.io.ByteArrayOutputStream()
    def readNode(addr: Long, nrec: Int, d: Int): Unit =
      if (d == 0) readLeaf(addr, nrec, out)
      else {
        val totWidth = if (d >= 2) geo(d - 1)._3 else 0
        val ptr = 8 + nrecWidth + totWidth
        val intLen = 6 + nrec * recSize + (nrec + 1) * ptr + 4
        val inRaw = r.bytes(addr, intLen)
        val ib = ByteBuffer.wrap(inRaw).order(ByteOrder.LITTLE_ENDIAN)
        val isig = new Array[Byte](4); ib.get(isig)
        require(isig.sameElements("BTIN".getBytes),
          s"$path: bad v2 b-tree internal node signature")
        require(ib.get() == 0, s"$path: v2 b-tree internal version unsupported")
        require((ib.get() & 0xFF) == expType, s"$path: v2 b-tree internal type mismatch")
        val storedInt = ib.getInt(intLen - 4)
        val computedInt = lookup3(java.util.Arrays.copyOf(inRaw, intLen - 4))
        require(storedInt == computedInt,
          f"$path: v2 b-tree internal checksum mismatch (stored 0x$storedInt%08x)")
        out.write(inRaw, 6, nrec * recSize) // the node's own records
        ib.position(6 + nrec * recSize)
        def uintN(n: Int): Long = {
          var v = 0L; var i = 0
          while (i < n) { v |= (ib.get().toLong & 0xFF) << (8 * i); i += 1 }
          v
        }
        (0 to nrec).foreach { _ =>
          val caddr = ib.getLong()
          val cn = uintN(nrecWidth).toInt
          require(cn >= 1 && cn <= geo(d - 1)._1,
            s"$path: child record count $cn out of range at depth ${d - 1}")
          if (totWidth > 0) {
            val ctot = uintN(totWidth)
            require(ctot >= cn && ctot <= geo(d - 1)._2,
              s"$path: child subtree total $ctot out of range at depth ${d - 1}")
          }
          readNode(caddr, cn, d - 1)
        }
      }
    readNode(rootAddr, nrecRoot, depth)
    val bytes = out.toByteArray
    require(bytes.length / recSize == totalRec,
      s"$path: v2 b-tree total ${bytes.length / recSize} != declared $totalRec")
    (ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN), totalRec.toInt)
  }

  /** Dense group links: walk the name-index v2 B-tree (type 5 records of
    * hash + heap ID) and resolve each record's heap ID to a link message in
    * the fractal heap.
    */
  private def readDenseLinks(r: Reader, fhAddr: Long, btAddr: Long,
      path: String): Seq[GEntry] = {
    require(btAddr != Undef, s"$path: dense group without a name-index v2 b-tree")
    val fh = parseFrhp(r, fhAddr, path)
    val (lb, nrec) = readBtreeLeaf(r, btAddr, 5, 4 + fh.idLen, "link-name", path)
    val blocks = loadDirectBlocks(r, fh, fhAddr, path)
    val huge = hugeObjects(r, fh, path)
    val links = (0 until nrec).map { _ =>
      lb.getInt() // name hash — index key; enumeration reads every record
      val id = new Array[Byte](fh.idLen); lb.get(id)
      val msgs = scala.collection.mutable.ArrayBuffer[Msg]()
      dispatchMsg(0x0006, 0,
        ByteBuffer.wrap(readHeapObject(r, fh, blocks, huge, id, path))
          .order(ByteOrder.LITTLE_ENDIAN), msgs, path)
      msgs.head match {
        case LinkMsg(n, a) => GHard(n, a)
        case SoftLinkMsg(n, t) => GSoft(n, t)
        case ExtLinkMsg(n, f, t) => GExt(n, f, t)
        case m => throw new IllegalStateException(s"$path: unexpected $m") }
    }
    links.sortBy(_.name)
  }

  /** Dense attribute storage: walk the attribute name-index v2 B-tree
    * (type 8 records of heap ID + message flags + creation order + hash,
    * the order libhdf5's `H5A__dense_btree2_name_encode` writes) and
    * resolve each heap ID to an attribute message in the fractal heap.
    */
  private def readDenseAttrs(r: Reader, fhAddr: Long, btAddr: Long,
      path: String): Seq[RawAttr] = {
    require(btAddr != Undef, s"$path: dense attributes without a name-index v2 b-tree")
    val fh = parseFrhp(r, fhAddr, path)
    val (lb, nrec) = readBtreeLeaf(r, btAddr, 8, fh.idLen + 9, "attribute-name", path)
    val blocks = loadDirectBlocks(r, fh, fhAddr, path)
    val huge = hugeObjects(r, fh, path)
    (0 until nrec).map { _ =>
      val id = new Array[Byte](fh.idLen); lb.get(id)
      val mflags = lb.get() & 0xFF
      // the record's message-flags byte is the same header-message flags
      // field dispatchMsg checks: bit 1 (0x02) = SHARED — the heap object
      // would be a SOHM reference, not an attribute message, and parsing it
      // as one would misparse; bit 0 (0x01) is merely "constant" and fine
      require((mflags & 0x02) == 0,
        s"$path: shared dense attribute message unsupported")
      lb.getInt(); lb.getInt() // creation order, name hash
      parseAttr(ByteBuffer.wrap(readHeapObject(r, fh, blocks, huge, id, path))
        .order(ByteOrder.LITTLE_ENDIAN), path)
    }.sortBy(_.name)
  }

  /** All attributes of one object header: compact 0x000C messages plus, when
    * an Attribute Info message carries a defined fractal-heap address, the
    * densely stored ones.
    */
  private def attrsOf(r: Reader, msgs: Seq[Msg], addrToName: Map[Long, String],
      path: String): Seq[H5Attr] = {
    val compact = msgs.collect { case AttrMsg(a) => a }
    val dense = msgs.collectFirst {
      case AttrInfoMsg(fh, bt) if fh != Undef => readDenseAttrs(r, fh, bt, path)
    }.getOrElse(Nil)
    (compact ++ dense).map(a => resolveAttr(r, a, addrToName, path))
  }

  // ---- object header messages

  private sealed trait Msg
  private final case class DataspaceMsg(dims: Seq[Long]) extends Msg
  private final case class DatatypeMsg(dtype: DType) extends Msg
  private final case class LayoutMsg(layout: Layout) extends Msg
  private final case class AttrMsg(attr: RawAttr) extends Msg
  private final case class FilterMsg(filters: Seq[H5Filter]) extends Msg
  /** The fill value message's raw defined value; None when undefined. */
  private final case class FillMsg(value: Option[Array[Byte]]) extends Msg
  private final case class SymbolTableMsg(btreeAddr: Long, heapAddr: Long) extends Msg
  private final case class LinkInfoMsg(fractalHeapAddr: Long,
      nameBtreeAddr: Long) extends Msg
  private final case class AttrInfoMsg(fractalHeapAddr: Long,
      nameBtreeAddr: Long) extends Msg
  private final case class LinkMsg(name: String, ohAddr: Long) extends Msg
  private final case class SoftLinkMsg(name: String, target: String) extends Msg
  private final case class ExtLinkMsg(name: String, file: String,
      target: String) extends Msg
  private final case class RawAttr(name: String, dtype: DType, dims: Seq[Long],
      data: Array[Byte])

  /** Decode one header message into the model; a continuation message
    * (0x0010) returns its (offset, length) for the caller's block list —
    * v1 blocks are raw message bytes, v2 blocks are `OCHK`-framed.
    */
  private def dispatchMsg(mtype: Int, flags: Int, body: ByteBuffer,
      msgs: scala.collection.mutable.ArrayBuffer[Msg],
      path: String): Option[(Long, Long)] = {
    // flag bit 1 = SHARED: the body is a shared-message reference into the
    // SOHM heap, not the message itself — parsing it as one would be a
    // silent misparse, so refuse loudly (SOHM files are out of subset)
    require((flags & 0x02) == 0,
      f"$path: shared header message (type 0x$mtype%04X) unsupported")
    mtype match {
      case 0x0000 => None // NIL
      case 0x0001 => msgs += parseDataspace(body, path); None
      case 0x0002 => msgs += parseLinkInfo(body, path); None
      case 0x0003 => msgs += DatatypeMsg(parseDatatype(body, path)); None
      case 0x0005 => msgs += FillMsg(parseFill(body, path)); None
      case 0x0006 => msgs += parseLink(body, path); None
      case 0x0008 => msgs += parseLayout(body, path); None
      case 0x000A => None // group info — advisory size estimates only
      case 0x000B => msgs += FilterMsg(parseFilters(body, path)); None
      case 0x000C => msgs += AttrMsg(parseAttr(body, path)); None
      case 0x0010 => Some((body.getLong(), body.getLong()))
      case 0x0011 => msgs += SymbolTableMsg(body.getLong(), body.getLong()); None
      case 0x0012 => None // object modification time
      case 0x0015 => msgs += parseAttrInfo(body, path); None
      case t =>
        throw new IllegalArgumentException(
          f"$path: object header message type 0x$t%04X unsupported")
    }
  }

  /** Fill value message (0x0005) versions 1–3: the raw defined value, or
    * None when the message leaves it undefined or at the library default.
    * v1/v2 store size and value only when the "defined" byte is set (as
    * libhdf5 decodes both); v3 packs allocation time, write time and the
    * undefined (bit 4) and has-value (bit 5) flags into one byte.
    */
  private[graft] def parseFill(b: ByteBuffer, path: String): Option[Array[Byte]] = {
    def value(): Option[Array[Byte]] = {
      val n = b.getInt()
      require(n >= 0 && n <= b.remaining(),
        s"$path: fill value size $n overruns its message (${b.remaining()} bytes left)")
      if (n == 0) None else { val v = new Array[Byte](n); b.get(v); Some(v) }
    }
    b.get() match {
      case 1 | 2 =>
        b.get(); b.get() // space allocation time, fill value write time
        if (b.get() != 0) value() else None
      case 3 =>
        val flags = b.get() & 0xFF
        require((flags & 0xC0) == 0 && (flags & 0x30) != 0x30,
          f"$path: fill value message flags 0x$flags%02X invalid")
        if ((flags & 0x20) != 0) value() else None
      case v => throw new IllegalArgumentException(
        s"$path: fill value message version $v unsupported")
    }
  }

  /** Parse an object header (v1 or v2 `OHDR`); (messages, headerAddr). */
  private def readObjectHeader(r: Reader, addr: Long,
      path: String): (Seq[Msg], Long) = {
    val sig = r.bytes(addr, 4)
    if (sig.sameElements("OHDR".getBytes)) readObjectHeaderV2(r, addr, path)
    else readObjectHeaderV1(r, addr, path)
  }

  /** v1 object header incl. continuation blocks (raw message bytes). */
  private def readObjectHeaderV1(r: Reader, addr: Long,
      path: String): (Seq[Msg], Long) = {
    val pre = r.at(addr, 16)
    val version = pre.get()
    require(version == 1,
      s"$path: object header version $version unsupported (subset reads v1 and v2 OHDR)")
    pre.get()
    val nmsgs = pre.getShort()
    pre.getInt() // refcount
    val hdrSize = pre.getInt()
    // message data starts 8-aligned: 12-byte prefix + 4 pad
    var blocks = List((addr + 16, hdrSize.toLong))
    val msgs = scala.collection.mutable.ArrayBuffer.empty[Msg]
    var read = 0
    while (read < nmsgs && blocks.nonEmpty) {
      var (pos, remaining) = blocks.head
      blocks = blocks.tail
      while (read < nmsgs && remaining >= 8) {
        val mh = r.at(pos, 8)
        val mtype = mh.getShort() & 0xFFFF
        val msize = mh.getShort() & 0xFFFF
        val mflags = mh.get() & 0xFF
        val body = r.at(pos + 8, msize)
        dispatchMsg(mtype, mflags, body, msgs, path)
          .foreach { c => blocks = c :: blocks }
        read += 1
        pos += 8 + msize
        remaining -= 8 + msize
      }
    }
    (msgs.toSeq, addr)
  }

  /** v2 (`OHDR`) object header incl. `OCHK` continuation blocks. Both carry
    * a trailing Jenkins-lookup3 checksum, verified here. Unlike v1 there is
    * no stored message count: messages fill each block; a sub-header-sized
    * gap at a block's end simply terminates its scan.
    */
  private def readObjectHeaderV2(r: Reader, addr: Long,
      path: String): (Seq[Msg], Long) = {
    val pre = r.at(addr + 4, 2) // past the "OHDR" signature
    val version = pre.get()
    require(version == 2, s"$path: OHDR version $version unsupported")
    val flags = pre.get() & 0xFF
    var prefix = 6
    if ((flags & 0x20) != 0) prefix += 16 // access/mod/change/birth times
    if ((flags & 0x10) != 0) prefix += 4 // attr storage phase-change bounds
    val szBytes = 1 << (flags & 0x03)
    val chunk0 = uintVar(r.at(addr + prefix, szBytes), szBytes)
    prefix += szBytes
    val hdr = if ((flags & 0x04) != 0) 6 else 4 // +2 tracked creation order
    val msgs = scala.collection.mutable.ArrayBuffer.empty[Msg]
    // (message bytes start, message bytes length, checksum span start+length)
    var blocks = List((addr + prefix, chunk0, addr, prefix + chunk0))
    while (blocks.nonEmpty) {
      val (pos0, len, ckStart, ckLen) = blocks.head
      blocks = blocks.tail
      val stored = r.at(ckStart + ckLen, 4).getInt()
      val computed = lookup3(r.bytes(ckStart, ckLen.toInt))
      require(stored == computed,
        f"$path: object header checksum mismatch at $ckStart (stored 0x$stored%08x, computed 0x$computed%08x)")
      var pos = pos0
      var remaining = len
      while (remaining >= hdr) {
        val mh = r.at(pos, hdr)
        val mtype = mh.get() & 0xFF
        val msize = mh.getShort() & 0xFFFF
        val mflags = mh.get() & 0xFF
        if (hdr == 6) mh.getShort() // creation order
        val body = r.at(pos + hdr, msize)
        dispatchMsg(mtype, mflags, body, msgs, path).foreach { case (off, blen) =>
          val osig = r.bytes(off, 4)
          require(osig.sameElements("OCHK".getBytes), s"$path: bad OCHK signature")
          blocks = (off + 4, blen - 8, off, blen - 4) :: blocks
        }
        pos += hdr + msize
        remaining -= hdr + msize
      }
    }
    (msgs.toSeq, addr)
  }

  /** Variable-width little-endian unsigned read (any 1–8 bytes — odd widths
    * occur in chunk-size fields and extensible-array block offsets).
    */
  private def uintVar(b: ByteBuffer, n: Int): Long = n match {
    case 1 => b.get().toLong & 0xFF
    case 2 => b.getShort().toLong & 0xFFFF
    case 4 => b.getInt().toLong & 0xFFFFFFFFL
    case 8 => b.getLong()
    case o if o >= 1 && o <= 8 =>
      var v = 0L; var i = 0
      while (i < o) { v |= (b.get().toLong & 0xFF) << (8 * i); i += 1 }
      v
    case o => throw new IllegalArgumentException(s"unsupported field width $o")
  }

  /** Link Info (0x0002): compact groups keep the fractal heap address
    * undefined; a defined address means DENSE link storage — the links live
    * as managed fractal-heap objects indexed by the name-index v2 B-tree.
    */
  private def parseLinkInfo(b: ByteBuffer, path: String): LinkInfoMsg = {
    val version = b.get()
    require(version == 0, s"$path: link info version $version unsupported")
    val flags = b.get() & 0xFF
    if ((flags & 1) != 0) b.getLong() // max creation index
    val fheap = b.getLong()
    val nameBt = b.getLong()
    LinkInfoMsg(fheap, nameBt)
  }

  /** Link (0x0006): hard (type 0), soft (type 1, a 2-byte-length-prefixed
    * path string), and external (type 64, the registered user-defined
    * class: a version/flags byte then NUL-terminated file name + object
    * path — libhdf5's `H5Lexternal` encoding). Any other user-defined
    * class stays loud-fail.
    */
  private def parseLink(b: ByteBuffer, path: String): Msg = {
    val version = b.get()
    require(version == 1, s"$path: link message version $version unsupported")
    val flags = b.get() & 0xFF
    val linkType = if ((flags & 0x08) != 0) b.get() & 0xFF else 0
    if ((flags & 0x04) != 0) b.getLong() // creation order
    if ((flags & 0x10) != 0) b.get() // link name character set
    val nameLen = uintVar(b, 1 << (flags & 0x03))
    val nb = new Array[Byte](nameLen.toInt); b.get(nb)
    val name = new String(nb, "UTF-8")
    linkType match {
      case 0 => LinkMsg(name, b.getLong())
      case 1 =>
        val len = b.getShort() & 0xFFFF
        val vb = new Array[Byte](len); b.get(vb)
        SoftLinkMsg(name, new String(vb, "UTF-8"))
      case 64 =>
        val len = b.getShort() & 0xFFFF
        val vb = new Array[Byte](len); b.get(vb)
        val vf = vb(0) & 0xFF
        require((vf >> 4) == 0 && (vf & 0x0F) == 0,
          f"$path%s: external link '$name%s' version/flags 0x$vf%02x unsupported")
        // two NUL-terminated strings: target file, then target object path
        val cut = vb.indexOf(0.toByte, 1)
        require(cut > 1 && cut < len - 1,
          s"$path: external link '$name' value is not two NUL-terminated strings")
        val file = new String(vb, 1, cut - 1, "UTF-8")
        val end = vb.indexOf(0.toByte, cut + 1)
        val target = new String(vb, cut + 1,
          (if (end < 0) len else end) - cut - 1, "UTF-8")
        ExtLinkMsg(name, file, target)
      case t => throw new IllegalArgumentException(
        s"$path: user-defined link class $t unsupported (external = 64 only)")
    }
  }

  /** Attribute Info (0x0015): attributes stay in the header (compact) as
    * long as the fractal heap address is undefined; a defined address means
    * DENSE attribute storage — the attribute messages live as managed
    * fractal-heap objects indexed by a name-index v2 B-tree (type 8), the
    * layout libhdf5 switches to past the compact phase-change limit
    * (8 attributes by default).
    */
  private def parseAttrInfo(b: ByteBuffer, path: String): AttrInfoMsg = {
    val version = b.get()
    require(version == 0, s"$path: attribute info version $version unsupported")
    val flags = b.get() & 0xFF
    if ((flags & 1) != 0) b.getShort() // max creation index
    val fheap = b.getLong()
    val nameBt = b.getLong()
    if ((flags & 2) != 0) b.getLong() // creation-order v2 b-tree — not consulted
    AttrInfoMsg(fheap, nameBt)
  }

  private def parseDataspace(b: ByteBuffer, path: String): DataspaceMsg = {
    val version = b.get()
    version match {
      case 1 =>
        val rank = b.get()
        b.get() // flags — maxdims (bit 0) follow the dims, never read
        b.get(); b.getInt() // reserved
        DataspaceMsg((0 until rank).map(_ => b.getLong()))
      case 2 =>
        val rank = b.get()
        b.get() // flags
        val stype = b.get() // 0 scalar, 1 simple, 2 null
        require(stype == 0 || stype == 1,
          s"$path: dataspace type $stype unsupported")
        DataspaceMsg((0 until rank).map(_ => b.getLong()))
      case v =>
        throw new IllegalArgumentException(s"$path: dataspace version $v unsupported")
    }
  }

  private def parseDatatype(b: ByteBuffer, path: String): DType = {
    val cv = b.get() & 0xFF
    val version = cv >> 4; val clazz = cv & 0x0F
    require(version >= 1 && version <= 3, s"$path: datatype version $version unsupported")
    val bits0 = b.get() & 0xFF; b.get(); b.get()
    val size = b.getInt()
    clazz match {
      case 0 => // fixed-point
        // bit 0 = byte order, bit 3 = signed: decoding big-endian or
        // unsigned bytes with the little-endian signed readers would be a
        // silent value corruption, not a format error — refuse loudly
        require((bits0 & 0x01) == 0, s"$path: big-endian fixed-point unsupported")
        require((bits0 & 0x08) != 0,
          s"$path: unsigned fixed-point unsupported (signed readers would misparse)")
        size match {
          case 1 => I8
          case 2 => I16
          case 4 => I32
          case 8 => I64
          case s => throw new IllegalArgumentException(s"$path: fixed-point size $s unsupported")
        }
      case 1 =>
        require((bits0 & 0x01) == 0, s"$path: big-endian float unsupported")
        size match {
          case 4 => F32
          case 8 => F64
          case s => throw new IllegalArgumentException(s"$path: float size $s unsupported")
        }
      case 3 => Str(size)
      case 7 => ObjRef
      case 9 =>
        val base = parseDatatype(b, path) // nested base type follows properties
        Vlen(base)
      case c => throw new IllegalArgumentException(s"$path: datatype class $c unsupported")
    }
  }

  private def parseLayout(b: ByteBuffer, path: String): LayoutMsg = {
    val version = b.get()
    require(version == 3 || version == 4,
      s"$path: data layout version $version unsupported (subset reads v3/v4)")
    b.get() & 0xFF match {
      case 1 => LayoutMsg(Contiguous(b.getLong(), b.getLong())) // same v3/v4
      case 2 if version == 3 =>
        val ndims = b.get() & 0xFF // rank + 1 (element size entry)
        val btree = b.getLong()
        val cdims = (0 until ndims - 1).map(_ => b.getInt())
        b.getInt() // element size
        LayoutMsg(Chunked(btree, cdims))
      case 2 => // v4: chunk location comes from one of the spec's indexes
        val flags = b.get() & 0xFF // bit 1 = single chunk stores size+mask
        val ndims = b.get() & 0xFF // rank + 1, like v3 (element size entry)
        val encLen = b.get() & 0xFF
        val cdims = (0 until ndims - 1).map(_ => uintVar(b, encLen).toInt)
        uintVar(b, encLen) // element size
        val index = (b.get() & 0xFF) match {
          case 1 =>
            val filtered =
              if ((flags & 0x02) != 0) Some((b.getLong(), b.getInt())) else None
            SingleChunk(b.getLong(), filtered)
          case 2 => ImplicitIndex(b.getLong())
          case 3 =>
            val pageBits = b.get() & 0xFF
            FixedArrayIndex(b.getLong(), pageBits)
          case 4 =>
            // spec field order here (Max Bits, Index Elements, Min Pointers,
            // Min Elements, Page Bits) differs from the EAHD's own order —
            // the reader cross-checks the two against each other
            val maxBits = b.get() & 0xFF
            val idxElmts = b.get() & 0xFF
            val minPtrs = b.get() & 0xFF
            val minElmts = b.get() & 0xFF
            val pageBits = b.get() & 0xFF
            ExtensibleArrayIndex(b.getLong(), maxBits, idxElmts, minPtrs,
              minElmts, pageBits)
          case 5 =>
            val nodeSize = b.getInt()
            b.get(); b.get() // split / merge percents — advisory
            Btree2Index(b.getLong(), nodeSize)
          case t => throw new IllegalArgumentException(
            s"$path: chunk index type $t unsupported (single-chunk=1, implicit=2, fixed-array=3, extensible-array=4, v2-btree=5)")
        }
        LayoutMsg(ChunkedV4(cdims, index))
      case 0 =>
        // compact: data inline in the message
        val size = b.getShort() & 0xFFFF
        val arr = new Array[Byte](size); b.get(arr)
        LayoutMsg(CompactData(arr))
      case c => throw new IllegalArgumentException(s"$path: layout class $c unsupported")
    }
  }

  final case class CompactData(bytes: Array[Byte]) extends Layout

  /** Filter pipeline message. v1 pads names to 8 and odd client-value lists
    * to 8; v2 drops the reserved bytes and omits the name field entirely for
    * registered (id < 256) filters.
    */
  private def parseFilters(b: ByteBuffer, path: String): Seq[H5Filter] = {
    val version = b.get() & 0xFF
    require(version == 1 || version == 2,
      s"$path: filter pipeline version $version unsupported")
    val nf = b.get() & 0xFF
    if (version == 1) { b.getShort(); b.getInt() } // reserved
    (0 until nf).map { _ =>
      val id = b.getShort() & 0xFFFF
      val nameLen =
        if (version == 2 && id < 256) 0 else b.getShort() & 0xFFFF
      b.getShort() // flags (bit 0 = optional) — irrelevant once written
      val ncv = b.getShort() & 0xFFFF
      if (nameLen > 0) {
        // v1 name fields occupy a multiple of 8 bytes: modern libs store the
        // padded length, but HDF5 < 1.6.5 stored the unpadded one — round up
        // so both parse. v2 name lengths are exact, no padding.
        val padded = if (version == 1) ((nameLen + 7) / 8) * 8 else nameLen
        b.position(b.position() + padded)
      }
      val cvals = (0 until ncv).map(_ => b.getInt().toLong & 0xFFFFFFFFL)
      if (version == 1 && ncv % 2 == 1) b.getInt() // pad to 8
      id match {
        case 1 => Deflate(cvals.headOption.getOrElse(6L).toInt)
        case 2 => Shuffle(cvals.headOption.getOrElse(0L).toInt)
        case 3 => Fletcher32
        case o => throw new IllegalArgumentException(
          s"$path: filter id $o unsupported (deflate=1, shuffle=2, fletcher32=3)")
      }
    }
  }

  // ---- filter transforms (forward used by the writer, inverse by reads)

  private[graft] def deflateBytes(src: Array[Byte], level: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater(level)
    d.setInput(src); d.finish()
    val out = new java.io.ByteArrayOutputStream(math.max(src.length / 4, 64))
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Inflate one deflated chunk straight into an array of its `expected`
    * size. A stream cut before its end marker is truncated (EOFException);
    * one that holds more than `expected` bytes is refused before it can
    * allocate past the chunk's size; one that ends short comes back short,
    * for the caller's size check.
    */
  private[graft] def inflateBytes(src: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(src)
      val out = new Array[Byte](expected)
      val probe = new Array[Byte](1) // once full, only the end marker may remain
      var n = 0
      while (!inf.finished()) {
        val k = if (n < expected) inf.inflate(out, n, expected - n) else inf.inflate(probe)
        if (k > 0 && n == expected)
          throw new java.util.zip.DataFormatException(
            s"deflate chunk inflates past its expected $expected bytes")
        if (k == 0 && inf.needsDictionary())
          throw new java.util.zip.DataFormatException("deflate chunk needs a preset dictionary")
        if (k == 0 && inf.needsInput())
          throw new java.io.EOFException("truncated deflate chunk")
        n += k
      }
      if (n == expected) out else java.util.Arrays.copyOf(out, n)
    } finally inf.end() // native memory — release on the error path too
  }

  /** Byte-transpose: element j's byte k moves to plane k, slot j. */
  private[graft] def shuffleBytes(src: Array[Byte], esz: Int): Array[Byte] = {
    if (esz <= 1) return src
    val n = src.length / esz
    val out = new Array[Byte](src.length)
    var k = 0
    while (k < esz) {
      var j = 0
      while (j < n) { out(k * n + j) = src(j * esz + k); j += 1 }
      k += 1
    }
    var r = n * esz // leftover bytes (len not divisible by esz) pass through
    while (r < src.length) { out(r) = src(r); r += 1 }
    out
  }

  private[graft] def unshuffleBytes(src: Array[Byte], esz: Int): Array[Byte] = {
    if (esz <= 1) return src
    val n = src.length / esz
    val out = new Array[Byte](src.length)
    var k = 0
    while (k < esz) {
      var j = 0
      while (j < n) { out(j * esz + k) = src(k * n + j); j += 1 }
      k += 1
    }
    var r = n * esz
    while (r < src.length) { out(r) = src(r); r += 1 }
    out
  }

  /** The format's Fletcher-32: 16-bit big-endian words, 360-word blocks,
    * one's-complement folds (public HDF5 H5checksum algorithm).
    */
  private[graft] def fletcher32(data: Array[Byte], len: Int): Long = {
    var sum1 = 0L; var sum2 = 0L
    var i = 0
    val words = len / 2
    var remaining = words
    while (remaining > 0) {
      var tlen = math.min(remaining, 360)
      remaining -= tlen
      while (tlen > 0) {
        sum1 += ((data(i) & 0xFFL) << 8) | (data(i + 1) & 0xFFL)
        sum2 += sum1
        i += 2; tlen -= 1
      }
      sum1 = (sum1 & 0xFFFF) + (sum1 >> 16)
      sum2 = (sum2 & 0xFFFF) + (sum2 >> 16)
    }
    if (len % 2 == 1) {
      sum1 += (data(len - 1) & 0xFFL) << 8
      sum2 += sum1
      sum1 = (sum1 & 0xFFFF) + (sum1 >> 16)
      sum2 = (sum2 & 0xFFFF) + (sum2 >> 16)
    }
    sum1 = (sum1 & 0xFFFF) + (sum1 >> 16)
    sum2 = (sum2 & 0xFFFF) + (sum2 >> 16)
    // the reference computes in uint32: one fold can leave sums ≥ 0x10000,
    // and the C shift/or simply wraps — mask or the stored 4-byte form
    // would spuriously mismatch a correctly-written checksum
    ((sum2 << 16) | sum1) & 0xFFFFFFFFL
  }

  /** Undo the pipeline for one stored chunk. `mask` bit i set means filter i
    * was skipped when this chunk was written.
    */
  private def defilterChunk(raw: Array[Byte], mask: Int, filters: Seq[H5Filter],
      expected: Int, path: String): Array[Byte] = {
    var bytes = raw
    def applied(i: Int): Boolean = (mask & (1 << i)) == 0
    filters.zipWithIndex.reverse.foreach { case (f, i) =>
      if (applied(i)) bytes = f match {
        // inflates to what the filters before it produced: a checksum put
        // first in the pipeline (netCDF-C's order) adds its 4 bytes
        case Deflate(_) => inflateBytes(bytes, expected +
          4 * (0 until i).count(j => applied(j) && filters(j) == Fletcher32))
        case Shuffle(esz) => unshuffleBytes(bytes, esz)
        case Fletcher32 =>
          require(bytes.length >= 4, s"$path: fletcher32 chunk shorter than its checksum")
          val stored = ByteBuffer.wrap(bytes, bytes.length - 4, 4)
            .order(ByteOrder.LITTLE_ENDIAN).getInt.toLong & 0xFFFFFFFFL
          val computed = fletcher32(bytes, bytes.length - 4)
          require(stored == computed,
            f"$path: fletcher32 mismatch (stored 0x$stored%08x, computed 0x$computed%08x)")
          java.util.Arrays.copyOf(bytes, bytes.length - 4)
      }
    }
    require(bytes.length == expected,
      s"$path: chunk defiltered to ${bytes.length} bytes, expected $expected")
    bytes
  }

  /** Attribute message, v1 (8-padded fields), v2, or v3 (exact-length
    * fields; v3 adds a name-charset byte). v2/v3 shared datatypes/dataspaces
    * (flag bits 0/1) are out of the subset.
    */
  private def parseAttr(b: ByteBuffer, path: String): RawAttr = {
    val version = b.get()
    require(version >= 1 && version <= 3,
      s"$path: attribute message version $version unsupported")
    val flags = b.get() & 0xFF
    require(version == 1 || (flags & 0x03) == 0,
      s"$path: shared attribute datatype/dataspace unsupported")
    val nameSize = b.getShort() & 0xFFFF
    val dtSize = b.getShort() & 0xFFFF
    val dsSize = b.getShort() & 0xFFFF
    if (version == 3) b.get() // name character set
    def pad8(n: Int) = (n + 7) / 8 * 8
    def field(n: Int): Array[Byte] = {
      val stored = if (version == 1) pad8(n) else n
      val raw = new Array[Byte](stored); b.get(raw)
      raw
    }
    val name = new String(field(nameSize).takeWhile(_ != 0), "UTF-8")
    val dtype = parseDatatype(
      ByteBuffer.wrap(field(dtSize)).order(ByteOrder.LITTLE_ENDIAN), path)
    val dims = parseDataspace(
      ByteBuffer.wrap(field(dsSize)).order(ByteOrder.LITTLE_ENDIAN), path).dims
    val data = new Array[Byte](b.remaining()); b.get(data)
    RawAttr(name, dtype, dims, data)
  }

  private def readDataset(r: Reader, name: String, addr: Long,
      addrToName: Map[Long, String], path: String): H5Dataset = {
    val (msgs, _) = readObjectHeader(r, addr, path)
    val dims = msgs.collectFirst { case DataspaceMsg(d) => d }
      .getOrElse(throw new IllegalArgumentException(s"$path: $name has no dataspace"))
    val dtype = msgs.collectFirst { case DatatypeMsg(t) => t }
      .getOrElse(throw new IllegalArgumentException(s"$path: $name has no datatype"))
    val layout = msgs.collectFirst { case LayoutMsg(l) => l }
      .getOrElse(throw new IllegalArgumentException(s"$path: $name has no layout"))
    val attrs = attrsOf(r, msgs, addrToName, path)
    val filters = msgs.collectFirst { case FilterMsg(f) => f }.getOrElse(Nil)
    require(filters.isEmpty || layout.isInstanceOf[ChunkedLayout],
      s"$path: $name has filters on a non-chunked layout")
    val fill = msgs.collectFirst { case FillMsg(Some(v)) => v }
      .filter(_ => numeric(dtype)).map { v =>
        require(v.length == dtype.size,
          s"$path: $name fill value is ${v.length} bytes, its type ${dtype.size}")
        val out = new Array[Double](1)
        decode(v, dtype, out, 0, 1, path)
        out(0)
      }
    H5Dataset(name, addr, dims, dtype, layout, attrs, filters, fillValue = fill)
  }

  private def numeric(t: DType): Boolean = t match {
    case I8 | I16 | I32 | I64 | F32 | F64 => true
    case _ => false
  }

  private def resolveAttr(r: Reader, a: RawAttr, addrToName: Map[Long, String],
      path: String): H5Attr = {
    val n = if (a.dims.isEmpty) 1 else a.dims.product.toInt
    val b = ByteBuffer.wrap(a.data).order(ByteOrder.LITTLE_ENDIAN)
    a.dtype match {
      case Str(sz) =>
        val s = new Array[Byte](sz); b.get(s)
        H5Attr(a.name, StrAttr(new String(s.takeWhile(_ != 0), "UTF-8")))
      case Vlen(ObjRef) =>
        val lists = (0 until n).map { _ =>
          val len = b.getInt()
          val gheapAddr = b.getLong()
          val index = b.getInt()
          readGlobalHeapObject(r, gheapAddr, index, path) match {
            case refs =>
              val rb = ByteBuffer.wrap(refs).order(ByteOrder.LITTLE_ENDIAN)
              (0 until len).map(_ => addrToName.getOrElse(rb.getLong(), "?"))
          }
        }
        H5Attr(a.name, RefListAttr(lists))
      case t =>
        val nums = (0 until n).map { _ =>
          t match {
            case I8 => b.get().toDouble
            case I16 => b.getShort().toDouble
            case I32 => b.getInt().toDouble
            case I64 => b.getLong().toDouble
            case F32 => b.getFloat().toDouble
            case F64 => b.getDouble()
            case o => throw new IllegalArgumentException(s"$path: attr type $o unsupported")
          }
        }
        H5Attr(a.name, NumAttr(nums))
    }
  }

  private def readGlobalHeapObject(r: Reader, collAddr: Long, index: Int,
      path: String): Array[Byte] = {
    val head = r.at(collAddr, 16)
    val sig = new Array[Byte](4); head.get(sig)
    require(sig.sameElements("GCOL".getBytes), s"$path: bad global heap signature")
    head.get(); head.get(); head.get(); head.get() // version + reserved
    val collSize = head.getLong()
    val body = r.at(collAddr + 16, (collSize - 16).toInt)
    while (body.remaining() >= 16) {
      val objIndex = body.getShort() & 0xFFFF
      body.getShort(); body.getInt() // refcount + reserved
      val objSize = body.getLong()
      if (objIndex == 0) return Array.empty // free-space terminator
      val data = new Array[Byte](objSize.toInt); body.get(data)
      val pad = ((objSize + 7) / 8 * 8 - objSize).toInt
      body.position(body.position() + pad)
      if (objIndex == index) return data
    }
    throw new IllegalArgumentException(s"$path: global heap object $index not found")
  }

  // ---- data reads

  /** Whole-dataset read widened to double (row-major). */
  def readAll(path: String, ds: H5Dataset): Array[Double] = {
    // external-linked datasets carry their layout addresses in the file
    // the link resolved to, not the file the catalog discovered them in
    val raf = new RandomAccessFile(ds.extFile.getOrElse(path), "r")
    try {
      val out = new Array[Double](ds.elems.toInt)
      if (ds.fill != 0.0) java.util.Arrays.fill(out, ds.fill) // unallocated chunks
      ds.layout match {
        case Contiguous(addr, _) =>
          val buf = new Array[Byte](ds.elems.toInt * ds.dtype.size)
          raf.seek(addr); raf.readFully(buf)
          decode(buf, ds.dtype, out, 0, out.length, path)
        case CompactData(bytes) =>
          decode(bytes, ds.dtype, out, 0, out.length, path)
        case cl: ChunkedLayout =>
          val cdims = cl.chunkDims
          val chunks = chunkLocations(new Reader(raf), ds, path)
          val expected = cdims.product * ds.dtype.size
          val cvals = new Array[Double](cdims.product)
          chunks.foreach { case (offsets, addr, size, mask) =>
            val raw = new Array[Byte](size.toInt)
            raf.seek(addr)
            raf.readFully(raw)
            val bytes = defilterChunk(raw, mask, ds.filters, expected, path)
            decode(bytes, ds.dtype, cvals, 0, cdims.product, path)
            scatterChunk(cvals, offsets, cdims, ds.dims, out)
          }
        case l => throw new IllegalArgumentException(s"$path: layout $l unsupported")
      }
      out
    } finally raf.close()
  }

  /** Chunk locations for either chunked encoding: v1 B-tree (layout v3) or
    * a v4 chunk index. One shape serves whole reads and section reads.
    */
  private def chunkLocations(r: Reader, ds: H5Dataset,
      path: String): Seq[(Seq[Long], Long, Long, Int)] = ds.layout match {
    case Chunked(btree, cdims) => readChunkIndex(r, btree, cdims.length, path)
    case ChunkedV4(cdims, index) =>
      val chunkBytes = cdims.product.toLong * ds.dtype.size
      index match {
        case SingleChunk(addr, filtered) =>
          if (addr == Undef) Nil // never allocated: all fill
          else {
            val (size, mask) = filtered.getOrElse((chunkBytes, 0))
            Seq((Seq.fill(cdims.length)(0L), addr, size, mask))
          }
        case ImplicitIndex(addr) =>
          require(ds.filters.isEmpty,
            s"$path: implicit chunk index cannot carry filtered chunks")
          if (addr == Undef) Nil
          else {
            val grid = chunkGrid(ds.dims, cdims)
            (0 until grid.product).map { i =>
              // row-major chunk-grid order, back-to-back storage
              (chunkOrigin(i, grid, cdims), addr + i.toLong * chunkBytes, chunkBytes, 0)
            }
          }
        case fa: FixedArrayIndex =>
          fixedArrayChunks(r, fa, cdims, ds.dims, chunkBytes, path)
        case ea: ExtensibleArrayIndex =>
          extensibleArrayChunks(r, ea, cdims, ds.dims, chunkBytes,
            ds.filters.nonEmpty, path)
        case bt: Btree2Index =>
          btree2Chunks(r, bt, cdims, ds.dims, chunkBytes,
            ds.filters.nonEmpty, path)
      }
    case l => throw new IllegalArgumentException(s"$path: layout $l is not chunked")
  }

  /** Chunks per dimension (edge chunks count). */
  private def chunkGrid(dims: Seq[Long], cdims: Seq[Int]): Seq[Int] =
    dims.zip(cdims).map { case (d, c) => ((d + c - 1) / c).toInt }

  /** Element offsets of chunk `i` in row-major chunk-grid order — the one
    * ordering the writer (`chunksOf`), the implicit index, and the fixed
    * array all share; keep them in lockstep through this helper.
    */
  private def chunkOrigin(i: Int, grid: Seq[Int], cdims: Seq[Int]): Seq[Long] = {
    var rem = i
    val off = new Array[Long](cdims.length)
    var k = cdims.length - 1
    while (k >= 0) {
      off(k) = (rem % grid(k)).toLong * cdims(k); rem /= grid(k); k -= 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(off)
  }

  /** Enumerate chunks from a Fixed Array index (`FAHD` header + `FADB` data
    * block): entries sit in row-major chunk-grid order; client 0 stores bare
    * addresses (unfiltered), client 1 adds the stored size + filter mask.
    * Both blocks end in a verified Jenkins-lookup3 checksum. Past one
    * 2^pageBits page the data block PAGES (spec III.F): its header keeps
    * only a page bitmap (bit p set = page p initialized; libhdf5's H5VM bit
    * order, MSB-first within each byte) and a header-only checksum; pages
    * follow back-to-back, each elements + own checksum. Space for
    * uninitialized pages is allocated but never written — their element
    * slots read as unallocated chunks (fill). A bit-order mistake here
    * cannot misparse silently on partially-initialized real archives: a
    * page wrongly treated as initialized fails its page checksum
    * (uninitialized space is not a valid checksummed page), which is the
    * loud failure the codec prefers over wrong data.
    */
  private def fixedArrayChunks(r: Reader, fa: FixedArrayIndex, cdims: Seq[Int],
      dims: Seq[Long], chunkBytes: Long,
      path: String): Seq[(Seq[Long], Long, Long, Int)] = {
    if (fa.addr == Undef) return Nil
    val hdrLen = 4 + 1 + 1 + 1 + 1 + 8 + 8
    val raw = r.bytes(fa.addr, hdrLen + 4)
    val h = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val sig = new Array[Byte](4); h.get(sig)
    require(sig.sameElements("FAHD".getBytes),
      s"$path: bad fixed-array header signature")
    require(h.get() == 0, s"$path: fixed-array header version unsupported")
    val client = h.get() & 0xFF
    require(client == 0 || client == 1,
      s"$path: fixed-array client $client unsupported (chunk clients only)")
    val entrySize = h.get() & 0xFF
    val pageBits = h.get() & 0xFF
    val nelmts = h.getLong()
    val dbAddr = h.getLong()
    val hck = h.getInt()
    require(hck == lookup3(java.util.Arrays.copyOf(raw, hdrLen)),
      s"$path: fixed-array header checksum mismatch")
    // bound pageBits BEFORE shifting: 1L << 63 goes negative and 1L << 64
    // wraps to 1 (mod-64 shift), turning a corrupt header into a misparse
    // instead of this explicit failure
    require(pageBits >= 1 && pageBits < 63 && nelmts >= 0,
      s"$path: implausible fixed-array geometry (pageBits=$pageBits, n=$nelmts)")
    val grid = chunkGrid(dims, cdims)
    require(grid.product.toLong == nelmts,
      s"$path: fixed array has $nelmts entries, chunk grid needs ${grid.product}")
    val pageSize = 1L << pageBits
    val dbPrefix = 4 + 1 + 1 + 8

    /** One element at the buffer's position → Some(addr, storedSize, mask). */
    def element(b: ByteBuffer): Option[(Long, Long, Int)] = {
      val addr = b.getLong()
      val (size, mask) =
        if (client == 1) (uintVar(b, entrySize - 12), b.getInt())
        else (chunkBytes, 0)
      if (addr == Undef) None else Some((addr, size, mask)) // Undef: fill
    }
    def checkDbHeader(b: ByteBuffer): Unit = {
      val dsig = new Array[Byte](4); b.get(dsig)
      require(dsig.sameElements("FADB".getBytes),
        s"$path: bad fixed-array data block signature")
      require(b.get() == 0, s"$path: fixed-array data block version unsupported")
      require((b.get() & 0xFF) == client, s"$path: fixed-array client mismatch")
      require(b.getLong() == fa.addr, s"$path: fixed-array data block points elsewhere")
    }

    if (nelmts <= pageSize) {
      val dbLen = dbPrefix + nelmts.toInt * entrySize + 4
      val db = r.bytes(dbAddr, dbLen)
      val d = ByteBuffer.wrap(db).order(ByteOrder.LITTLE_ENDIAN)
      checkDbHeader(d)
      val dck = ByteBuffer.wrap(db, dbLen - 4, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
      require(dck == lookup3(java.util.Arrays.copyOf(db, dbLen - 4)),
        s"$path: fixed-array data block checksum mismatch")
      (0 until nelmts.toInt).flatMap { i =>
        element(d).map { case (addr, size, mask) =>
          (chunkOrigin(i, grid, cdims), addr, size, mask)
        }
      }
    } else {
      // paged: header = prefix + page bitmap + checksum over both; pages
      // (elements + own checksum) follow immediately after
      val npages = ((nelmts + pageSize - 1) / pageSize).toInt
      val bmBytes = (npages + 7) / 8
      val hdrLen2 = dbPrefix + bmBytes
      val hb = r.bytes(dbAddr, hdrLen2 + 4)
      val d = ByteBuffer.wrap(hb).order(ByteOrder.LITTLE_ENDIAN)
      checkDbHeader(d)
      val bitmap = new Array[Byte](bmBytes); d.get(bitmap)
      require(d.getInt() == lookup3(java.util.Arrays.copyOf(hb, hdrLen2)),
        s"$path: paged fixed-array data block header checksum mismatch")
      def pageInit(p: Int): Boolean =
        (bitmap(p / 8) & (1 << (7 - p % 8))) != 0
      var pageAt = dbAddr + hdrLen2 + 4
      (0 until npages).flatMap { p =>
        val pe = math.min(pageSize, nelmts - p * pageSize).toInt
        val pLen = pe * entrySize + 4
        val at = pageAt; pageAt += pLen
        if (!pageInit(p)) Nil // uninitialized page: every slot is fill
        else {
          val pRaw = r.bytes(at, pLen)
          val pb = ByteBuffer.wrap(pRaw).order(ByteOrder.LITTLE_ENDIAN)
          require(pb.getInt(pLen - 4) == lookup3(java.util.Arrays.copyOf(pRaw, pLen - 4)),
            s"$path: fixed-array data block page $p checksum mismatch")
          (0 until pe).flatMap { j =>
            element(pb).map { case (addr, size, mask) =>
              (chunkOrigin((p * pageSize + j).toInt, grid, cdims), addr, size, mask)
            }
          }
        }
      }
    }
  }

  /** Bytes libhdf5 uses to store a chunk's post-filter size in EA elements
    * and v2-b-tree records: one more than the bytes of the raw chunk size
    * (a filter can GROW a chunk), capped at 8 (`H5D__earray_crt_context` /
    * `H5D__bt2_crt_context` use the same formula).
    */
  private def chunkSizeLen(chunkBytes: Long): Int = {
    val log2 = 63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, chunkBytes))
    math.min(8, 1 + (log2 + 8) / 8)
  }

  /** Extensible-array geometry (spec III.E), shared by reader and writer so
    * the two can never drift: super block `u` holds `2^(u/2)` data blocks of
    * `2^((u+1)/2) · minElmts` elements each; the first `idxElmts` elements
    * live directly in the index block; the first `2·log2(minPtrs)` super
    * blocks' data blocks are pointed to directly FROM the index block
    * (`2·(minPtrs−1)` pointers in total); later super blocks get their own
    * `EASB`. Block offsets count in FULL array-index space (index-block
    * elements included).
    */
  private final case class EaGeometry(maxBits: Int, idxElmts: Int,
      minPtrs: Int, minElmts: Int, pageBits: Int) {
    private def log2Exact(v: Int, what: String): Int = {
      require(v >= 1 && Integer.bitCount(v) == 1,
        s"extensible array: $what=$v is not a power of two")
      31 - Integer.numberOfLeadingZeros(v)
    }
    val minElmtsLog2: Int = log2Exact(minElmts, "data-block min elements")
    val minPtrsLog2: Int = log2Exact(minPtrs, "super-block min pointers")
    require(maxBits >= 1 && maxBits <= 64 && maxBits > minElmtsLog2,
      s"extensible array: implausible max-bits $maxBits (minElmts=$minElmts)")
    val nsblksTotal: Int = 1 + (maxBits - minElmtsLog2) / 2
    val arrOffSize: Int = (maxBits + 7) / 8
    val nsblksDirect: Int = math.min(nsblksTotal, 2 * minPtrsLog2)
    val ndblkAddrs: Int = 2 * (minPtrs - 1)
    val nsblkAddrs: Int = nsblksTotal - nsblksDirect
    /** Per super block: (ndblks, dblkNelmts, startIdx, startDblk); start
      * indices are relative to the first element AFTER the index block.
      */
    val sblks: IndexedSeq[(Int, Long, Long, Long)] = {
      var idx = 0L; var dblk = 0L
      (0 until nsblksTotal).map { u =>
        val nd = 1 << (u / 2)
        val ne = (1L << ((u + 1) / 2)) * minElmts
        val row = (nd, ne, idx, dblk)
        idx += nd.toLong * ne; dblk += nd
        row
      }
    }
    /** `(sblk, dblkIdx, within)` of element `idx ≥ idxElmts` — the closed
      * form `H5EA__dblock_sblk_idx` uses: `log2(adj/minElmts + 1)`.
      */
    def locate(idx: Long): (Int, Int, Long) = {
      val adj = idx - idxElmts
      val u = 63 - java.lang.Long.numberOfLeadingZeros(adj / minElmts + 1)
      val (_, ne, start, _) = sblks(u)
      (u, ((adj - start) / ne).toInt, (adj - start) % ne)
    }
    /** EA element size on disk for a chunk client. */
    def elmtSize(filtered: Boolean, chunkBytes: Long): Int =
      if (filtered) 8 + chunkSizeLen(chunkBytes) + 4 else 8
  }

  /** Enumerate chunks from an Extensible Array index: `EAHD` header (whose
    * creation parameters must agree with the layout message's), `EAIB` index
    * block (first elements inline + direct data-block pointers + super-block
    * pointers), `EASB` super blocks, `EADB` data blocks — every block
    * signature- and Jenkins-lookup3-checksum-verified. Unset element slots
    * and never-created blocks are undefined addresses → fill. Data blocks
    * past one `2^pageBits` page PAGE: their header checksum covers only the
    * prefix, element pages follow each with its own checksum, and the
    * page-init bitmap lives in the parent super block (dblock-major bit
    * order, MSB-first within each byte). Paged data blocks in the
    * index-block DIRECT region (no parent super block to carry the bitmap)
    * fail loudly — libhdf5's default creation parameters keep the early
    * blocks under one page.
    */
  private def extensibleArrayChunks(r: Reader, ea: ExtensibleArrayIndex,
      cdims: Seq[Int], dims: Seq[Long], chunkBytes: Long, filtered: Boolean,
      path: String): Seq[(Seq[Long], Long, Long, Int)] = {
    if (ea.addr == Undef) return Nil
    // sig + version + client + 6 cparam bytes + 6 statistics + iblock addr
    val hdrLen = 4 + 1 + 1 + 6 + 6 * 8 + 8
    val raw = r.bytes(ea.addr, hdrLen + 4)
    val h = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val sig = new Array[Byte](4); h.get(sig)
    require(sig.sameElements("EAHD".getBytes),
      s"$path: bad extensible-array header signature")
    require(h.get() == 0, s"$path: extensible-array header version unsupported")
    val client = h.get() & 0xFF
    require(client == (if (filtered) 1 else 0),
      s"$path: extensible-array client $client does not match pipeline " +
        s"(expected ${if (filtered) 1 else 0})")
    val elmtSize = h.get() & 0xFF
    // EAHD cparam order (spec: its OWN section) — note minElmts BEFORE
    // minPtrs, the reverse of the layout message's field order
    val maxBits = h.get() & 0xFF
    val idxElmts = h.get() & 0xFF
    val minElmts = h.get() & 0xFF
    val minPtrs = h.get() & 0xFF
    val pageBits = h.get() & 0xFF
    require(maxBits == ea.maxBits && idxElmts == ea.idxElmts &&
      minElmts == ea.minElmts && minPtrs == ea.minPtrs &&
      pageBits == ea.pageBits,
      s"$path: extensible-array header parameters ($maxBits,$idxElmts," +
        s"$minElmts,$minPtrs,$pageBits) disagree with the layout message " +
        s"(${ea.maxBits},${ea.idxElmts},${ea.minElmts},${ea.minPtrs},${ea.pageBits})")
    // statistics (nsblks, sblk bytes, ndblks, dblk bytes, max index set,
    // realized elements) — not consulted; the pointer structure is
    // authoritative
    (0 until 6).foreach(_ => h.getLong())
    val ibAddr = h.getLong()
    val hck = h.getInt()
    require(hck == lookup3(java.util.Arrays.copyOf(raw, hdrLen)),
      s"$path: extensible-array header checksum mismatch")
    val geo = EaGeometry(maxBits, idxElmts, minPtrs, minElmts, pageBits)
    require(elmtSize == geo.elmtSize(filtered, chunkBytes),
      s"$path: extensible-array element size $elmtSize != expected " +
        s"${geo.elmtSize(filtered, chunkBytes)}")

    /** One element at the buffer's position → Some(addr, storedSize, mask). */
    def element(b: ByteBuffer): Option[(Long, Long, Int)] = {
      val addr = b.getLong()
      val (size, mask) =
        if (client == 1) (uintVar(b, elmtSize - 12), b.getInt())
        else (chunkBytes, 0)
      if (addr == Undef) None else Some((addr, size, mask))
    }

    val grid = chunkGrid(dims, cdims)
    val nchunks = grid.product.toLong
    require(maxBits >= 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, nchunks)),
      s"$path: chunk grid of $nchunks outgrows the declared 2^$maxBits elements")
    if (ibAddr == Undef) return Nil

    // index block: inline elements, direct data-block pointers, super-block
    // pointers — fixed capacity regardless of how much is in use
    val ibLen = 14 + idxElmts * elmtSize + (geo.ndblkAddrs + geo.nsblkAddrs) * 8 + 4
    val ibRaw = r.bytes(ibAddr, ibLen)
    val ib = ByteBuffer.wrap(ibRaw).order(ByteOrder.LITTLE_ENDIAN)
    val ibSig = new Array[Byte](4); ib.get(ibSig)
    require(ibSig.sameElements("EAIB".getBytes),
      s"$path: bad extensible-array index block signature")
    require(ib.get() == 0, s"$path: extensible-array index block version unsupported")
    require((ib.get() & 0xFF) == client, s"$path: extensible-array index block client mismatch")
    require(ib.getLong() == ea.addr, s"$path: extensible-array index block points elsewhere")
    require(ib.getInt(ibLen - 4) == lookup3(java.util.Arrays.copyOf(ibRaw, ibLen - 4)),
      s"$path: extensible-array index block checksum mismatch")
    ib.position(14)
    val inline = (0 until idxElmts).map(_ => element(ib))
    val directDblk = (0 until geo.ndblkAddrs).map(_ => ib.getLong())
    val sblkAddr = (0 until geo.nsblkAddrs).map(_ => ib.getLong())

    // bound BEFORE shifting, as in the fixed array: 1L << 64 wraps mod 64,
    // so a corrupt pageBits (u8, up to 255) would alias a small page size
    // and misparse instead of failing here
    require(pageBits >= 1 && pageBits < 63,
      s"$path: implausible extensible-array page bits $pageBits")
    val pageSize = 1L << pageBits
    /** Pages per data block of super block `u`, 0 when its blocks do not
      * page (spec III.E: a data block pages past one 2^pageBits page; the
      * page-init bitmap then lives in the PARENT super block, covering its
      * data blocks' pages in dblock-major order).
      */
    def npgOf(ne: Long): Int = if (ne > pageSize) (ne / pageSize).toInt else 0

    /** Data-block pointers + page-init bitmap of super block
      * `u ≥ nsblksDirect` (cached). The bitmap is empty when the super
      * block's data blocks are unpaged.
      */
    val sblkCache = scala.collection.mutable.Map.empty[Int, (IndexedSeq[Long], Array[Byte])]
    def sblkInfo(u: Int): (IndexedSeq[Long], Array[Byte]) = sblkCache.getOrElseUpdate(u, {
      val (nd, ne, start, _) = geo.sblks(u)
      val npg = npgOf(ne)
      val bmBytes = (nd * npg + 7) / 8
      val addr = sblkAddr(u - geo.nsblksDirect)
      if (addr == Undef) (IndexedSeq.fill(nd)(Undef), new Array[Byte](bmBytes))
      else {
        val len = 14 + geo.arrOffSize + bmBytes + nd * 8 + 4
        val sRaw = r.bytes(addr, len)
        val sb = ByteBuffer.wrap(sRaw).order(ByteOrder.LITTLE_ENDIAN)
        val sSig = new Array[Byte](4); sb.get(sSig)
        require(sSig.sameElements("EASB".getBytes),
          s"$path: bad extensible-array super block signature")
        require(sb.get() == 0, s"$path: extensible-array super block version unsupported")
        require((sb.get() & 0xFF) == client, s"$path: extensible-array super block client mismatch")
        require(sb.getLong() == ea.addr, s"$path: extensible-array super block points elsewhere")
        val off = uintVar(sb, geo.arrOffSize)
        require(off == idxElmts + start,
          s"$path: extensible-array super block $u at offset $off, expected ${idxElmts + start}")
        val bitmap = new Array[Byte](bmBytes); sb.get(bitmap)
        require(sb.getInt(len - 4) == lookup3(java.util.Arrays.copyOf(sRaw, len - 4)),
          s"$path: extensible-array super block checksum mismatch")
        ((0 until nd).map(_ => sb.getLong()), bitmap)
      }
    })

    /** Elements of an UNPAGED data block at `addr` holding `ne` elements
      * whose first element has array index `off` (cached per address).
      */
    val dblkCache = scala.collection.mutable.Map.empty[Long, IndexedSeq[Option[(Long, Long, Int)]]]
    def dblkElements(addr: Long, ne: Long, off: Long): IndexedSeq[Option[(Long, Long, Int)]] =
      dblkCache.getOrElseUpdate(addr, {
        val len = 14 + geo.arrOffSize + ne.toInt * elmtSize + 4
        val dRaw = r.bytes(addr, len)
        val db = ByteBuffer.wrap(dRaw).order(ByteOrder.LITTLE_ENDIAN)
        val dSig = new Array[Byte](4); db.get(dSig)
        require(dSig.sameElements("EADB".getBytes),
          s"$path: bad extensible-array data block signature")
        require(db.get() == 0, s"$path: extensible-array data block version unsupported")
        require((db.get() & 0xFF) == client, s"$path: extensible-array data block client mismatch")
        require(db.getLong() == ea.addr, s"$path: extensible-array data block points elsewhere")
        val stored = uintVar(db, geo.arrOffSize)
        require(stored == off,
          s"$path: extensible-array data block at offset $stored, expected $off")
        require(db.getInt(len - 4) == lookup3(java.util.Arrays.copyOf(dRaw, len - 4)),
          s"$path: extensible-array data block checksum mismatch")
        (0 until ne.toInt).map(_ => element(db))
      })

    /** Header check of a PAGED data block at `addr` (cached): the block
      * keeps sig/version/client/header-address/block-offset + a checksum
      * over just that prefix; element pages follow, each with its own
      * checksum. Page-init state lives in the parent super block's bitmap.
      */
    val pagedHdrSeen = scala.collection.mutable.Set.empty[Long]
    def checkPagedDblkHeader(addr: Long, off: Long): Unit =
      if (!pagedHdrSeen.contains(addr)) {
        val prefix = 14 + geo.arrOffSize
        val dRaw = r.bytes(addr, prefix + 4)
        val db = ByteBuffer.wrap(dRaw).order(ByteOrder.LITTLE_ENDIAN)
        val dSig = new Array[Byte](4); db.get(dSig)
        require(dSig.sameElements("EADB".getBytes),
          s"$path: bad extensible-array data block signature")
        require(db.get() == 0, s"$path: extensible-array data block version unsupported")
        require((db.get() & 0xFF) == client, s"$path: extensible-array data block client mismatch")
        require(db.getLong() == ea.addr, s"$path: extensible-array data block points elsewhere")
        val stored = uintVar(db, geo.arrOffSize)
        require(stored == off,
          s"$path: extensible-array data block at offset $stored, expected $off")
        require(db.getInt() == lookup3(java.util.Arrays.copyOf(dRaw, prefix)),
          s"$path: paged extensible-array data block header checksum mismatch")
        pagedHdrSeen += addr
      }

    /** Elements of page `p` of the paged data block at `addr` (cached). */
    val pageCache = scala.collection.mutable.Map.empty[(Long, Int), IndexedSeq[Option[(Long, Long, Int)]]]
    def pageElements(addr: Long, p: Int): IndexedSeq[Option[(Long, Long, Int)]] =
      pageCache.getOrElseUpdate((addr, p), {
        val pLen = pageSize.toInt * elmtSize + 4
        val at = addr + 14 + geo.arrOffSize + 4 + p.toLong * pLen
        val pRaw = r.bytes(at, pLen)
        val pb = ByteBuffer.wrap(pRaw).order(ByteOrder.LITTLE_ENDIAN)
        require(pb.getInt(pLen - 4) == lookup3(java.util.Arrays.copyOf(pRaw, pLen - 4)),
          s"$path: extensible-array data block page $p checksum mismatch")
        (0 until pageSize.toInt).map(_ => element(pb))
      })

    (0L until nchunks).flatMap { i =>
      val e =
        if (i < idxElmts) inline(i.toInt)
        else {
          val (u, dblkIdx, within) = geo.locate(i)
          val (_, ne, start, startDblk) = geo.sblks(u)
          if (u < geo.nsblksDirect) {
            require(ne <= pageSize,
              s"$path: paged extensible-array data block unsupported in the " +
                s"index-block direct region ($ne elements > 2^$pageBits page, super block $u)")
            val addr = directDblk((startDblk + dblkIdx).toInt)
            if (addr == Undef) None
            else dblkElements(addr, ne, idxElmts + start + dblkIdx * ne)(within.toInt)
          } else {
            val (addrs, bitmap) = sblkInfo(u)
            val addr = addrs(dblkIdx)
            if (addr == Undef) None
            else if (ne <= pageSize)
              dblkElements(addr, ne, idxElmts + start + dblkIdx * ne)(within.toInt)
            else {
              val npg = npgOf(ne)
              val p = (within / pageSize).toInt
              val bit = dblkIdx * npg + p
              // bitmap unset: page never initialized → every slot is fill.
              // As with the fixed array, a bit-order mistake loud-fails on
              // the page checksum rather than misparsing.
              if ((bitmap(bit / 8) & (1 << (7 - bit % 8))) == 0) None
              else {
                checkPagedDblkHeader(addr, idxElmts + start + dblkIdx * ne)
                pageElements(addr, p)((within % pageSize).toInt)
              }
            }
          }
        }
      e.map { case (addr, size, mask) =>
        (chunkOrigin(i.toInt, grid, cdims), addr, size, mask)
      }
    }
  }

  /** Enumerate chunks from a v2 B-tree index: the generic any-depth walker
    * ([[readBtreeLeaf]]) over record type 10 (unfiltered: address + per-dim
    * scaled offsets) or 11 (filtered: address + stored size in the
    * [[chunkSizeLen]] width + filter mask + scaled offsets). Scaled offsets
    * are chunk-grid coordinates; × chunk dims restores element offsets.
    */
  private def btree2Chunks(r: Reader, bt: Btree2Index, cdims: Seq[Int],
      dims: Seq[Long], chunkBytes: Long, filtered: Boolean,
      path: String): Seq[(Seq[Long], Long, Long, Int)] = {
    if (bt.addr == Undef) return Nil
    val rank = cdims.length
    val csl = chunkSizeLen(chunkBytes)
    val recSize = 8 + (if (filtered) csl + 4 else 0) + 8 * rank
    val expType = if (filtered) 11 else 10
    val (buf, n) = readBtreeLeaf(r, bt.addr, expType, recSize, "chunk", path)
    val grid = chunkGrid(dims, cdims)
    (0 until n).map { _ =>
      val addr = buf.getLong()
      val (size, mask) =
        if (filtered) (uintVar(buf, csl), buf.getInt()) else (chunkBytes, 0)
      val scaled = (0 until rank).map(_ => buf.getLong())
      scaled.zip(grid).zipWithIndex.foreach { case ((s, g), k) =>
        require(s >= 0 && s < g,
          s"$path: v2 b-tree chunk record scaled offset $s out of grid range $g (dim $k)")
      }
      (scaled.zip(cdims).map { case (s, c) => s * c }, addr, size, mask)
    }
  }

  /** v1 chunk B-tree → Seq(chunk offsets, file address, stored size, filter
    * mask). The stored size is the POST-filter byte count.
    */
  private def readChunkIndex(r: Reader, addr: Long, rank: Int,
      path: String): Seq[(Seq[Long], Long, Long, Int)] = {
    val head = r.at(addr, 24)
    val sig = new Array[Byte](4); head.get(sig)
    require(sig.sameElements("TREE".getBytes), s"$path: bad chunk btree signature")
    val nodeType = head.get(); val level = head.get()
    require(nodeType == 1, s"$path: chunk btree node type $nodeType != 1")
    val used = head.getShort() & 0xFFFF
    head.getLong(); head.getLong()
    // key: chunk size (4) + filter mask (4) + (rank+1) offsets (8 each)
    val keySize = 8 + (rank + 1) * 8
    val body = r.at(addr + 24, used * (keySize + 8) + keySize)
    (0 until used).flatMap { _ =>
      val csize = body.getInt().toLong & 0xFFFFFFFFL
      val mask = body.getInt()
      val offsets = (0 until rank).map(_ => body.getLong())
      body.getLong() // trailing element-size offset (always 0)
      val child = body.getLong()
      if (level == 0) Seq((offsets, child, csize, mask))
      else readChunkIndex(r, child, rank, path)
    }
  }

  /** Copy one decoded chunk into the row-major whole-array buffer. */
  private def scatterChunk(cvals: Array[Double], offsets: Seq[Long],
      cdims: Seq[Int], dims: Seq[Long], out: Array[Double]): Unit = {
    val rank = cdims.length
    val idx = new Array[Long](rank)
    val n = cdims.product
    var ci = 0
    while (ci < n) {
      // chunk-local index → global index (skip cells past the edge)
      var inBounds = true
      var flat = 0L
      var d = 0
      while (d < rank) {
        val g = offsets(d) + idx(d)
        if (g >= dims(d)) inBounds = false
        flat = flat * dims(d) + g
        d += 1
      }
      if (inBounds) out(flat.toInt) = cvals(ci)
      // increment chunk-local odometer
      var k = rank - 1
      var carry = true
      while (k >= 0 && carry) {
        idx(k) += 1
        if (idx(k) >= cdims(k)) { idx(k) = 0; k -= 1 } else carry = false
      }
      ci += 1
    }
  }

  private def decode(buf: Array[Byte], t: DType, out: Array[Double],
      at: Int, n: Int, path: String): Unit = {
    val b = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    t match {
      case I8 => var i = 0; while (i < n) { out(at + i) = b.get(i).toDouble; i += 1 }
      case I16 => val s = b.asShortBuffer(); var i = 0; while (i < n) { out(at + i) = s.get(i).toDouble; i += 1 }
      case I32 => val ib = b.asIntBuffer(); var i = 0; while (i < n) { out(at + i) = ib.get(i).toDouble; i += 1 }
      case I64 => val lb = b.asLongBuffer(); var i = 0; while (i < n) { out(at + i) = lb.get(i).toDouble; i += 1 }
      case F32 => val fb = b.asFloatBuffer(); var i = 0; while (i < n) { out(at + i) = fb.get(i).toDouble; i += 1 }
      case F64 => b.asDoubleBuffer().get(out, at, n)
      case o => throw new IllegalArgumentException(s"$path: data type $o unsupported")
    }
  }

  /** Random-access row reader for a 3-D `[t, y, x]` dataset — the HDF5 twin
    * of [[NetCdf3.SectionReader]]. Contiguous: one seek + read per row.
    * Chunked: rows are served from a lazily-loaded chunk index; each read
    * touches only the chunks overlapping `[x0, x1]`, and a cell no chunk
    * holds reads as the dataset's fill value.
    *
    * Decoded chunks are cached one chunk-row BAND at a time: the chunks of
    * the current (t-chunk, y-chunk), keyed by their x offset, dropped when a
    * read moves to another band. A section read walks t, then y, then x, so
    * every chunk is inflated and decoded once per band visit — once in all
    * when chunks span one time step, and at most once per time step they
    * cover when they span more (the band changes with y before t returns).
    * The cache holds at most the x-chunk span of the rows read.
    */
  final class SectionReader(path: String, ds: H5Dataset) extends AutoCloseable {
    require(ds.dims.length == 3, s"${ds.name}: section reader expects 3-D")
    private val Seq(tSize, ySize, xSize) = ds.dims.map(_.toInt): @unchecked
    private val esz = ds.dtype.size
    private val raf = new RandomAccessFile(ds.extFile.getOrElse(path), "r")
    private lazy val chunkIndex: Map[(Long, Long, Long), (Long, Long, Int)] =
      ds.layout match {
        case _: ChunkedLayout =>
          chunkLocations(new Reader(raf), ds, path)
            .map { case (off, addr, size, mask) =>
              (off(0), off(1), off(2)) -> (addr, size, mask) }
            .toMap
        case _ => Map.empty
      }
    private var bandT = -1L
    private var bandY = -1L
    private val band = scala.collection.mutable.LongMap.empty[Array[Double]]

    private def chunkVals(key: (Long, Long, Long), cdims: Seq[Int]): Option[Array[Double]] = {
      if (key._1 != bandT || key._2 != bandY) {
        band.clear(); bandT = key._1; bandY = key._2
      }
      band.get(key._3).orElse(chunkIndex.get(key).map { case (addr, size, mask) =>
        val raw = new Array[Byte](size.toInt)
        raf.seek(addr); raf.readFully(raw)
        val bytes = defilterChunk(raw, mask, ds.filters, cdims.product * esz, path)
        val cvals = new Array[Double](cdims.product)
        decode(bytes, ds.dtype, cvals, 0, cdims.product, path)
        SectionReader.decodes.increment()
        band(key._3) = cvals
        cvals
      })
    }

    def readRow(t: Int, y: Int, x0: Int, x1: Int): Array[Double] = {
      val n = x1 - x0 + 1
      val out = new Array[Double](n)
      ds.layout match {
        case Contiguous(addr, _) =>
          val off = addr + ((t.toLong * ySize + y) * xSize + x0) * esz
          val buf = new Array[Byte](n * esz)
          raf.seek(off); raf.readFully(buf)
          decode(buf, ds.dtype, out, 0, n, path)
        case cl: ChunkedLayout =>
          val cdims = cl.chunkDims
          val Seq(ct, cy, cx) = cdims: @unchecked
          var x = x0
          while (x <= x1) {
            val key = ((t / ct).toLong * ct, (y / cy).toLong * cy, (x / cx).toLong * cx)
            val hi = math.min(x1, key._3.toInt + cx - 1) // last x in this chunk
            chunkVals(key, cdims) match {
              case Some(cvals) =>
                var xi = x
                while (xi <= hi) {
                  val ci = ((t - key._1.toInt) * cy + (y - key._2.toInt)) * cx + (xi - key._3.toInt)
                  out(xi - x0) = cvals(ci)
                  xi += 1
                }
              case None => // unallocated chunk
                java.util.Arrays.fill(out, x - x0, hi - x0 + 1, ds.fill)
            }
            x = hi + 1
          }
        case l => throw new IllegalArgumentException(s"$path: layout $l unsupported")
      }
      out
    }

    override def close(): Unit = raf.close()
  }

  object SectionReader {
    /** Chunks inflated and decoded by every section reader in this JVM —
      * band-cache misses; tests read it to pin how often a scan decodes.
      */
    private[graft] val decodes = new java.util.concurrent.atomic.LongAdder
  }

  // ------------------------------------------------------------------ write

  /** Fixture writer input. `refAttrs` become vlen-of-object-reference
    * attributes (the shape of NetCDF-4's DIMENSION_LIST); names must refer
    * to sibling datasets in the same `write` call. `chunkDims` switches the
    * layout to a chunked one (3-D only): v1 B-tree in default format, v4
    * chunk indexes in latest format — Single Chunk when the chunk covers
    * the extent, otherwise Fixed Array, or Implicit (back-to-back unfiltered
    * chunks, no directory) when `implicitIndex` is set.
    * `btreeLeafK` (classic format only) caps v1 chunk-b-tree leaf fan-out:
    * more chunks than `k` per node emits a MULTI-NODE tree — a level-1
    * internal root over sibling-chained level-0 leaves, the shape libhdf5
    * produces once a real chunked archive outgrows one node (default
    * `H5F_KVALUE` leaf k = 32 chunks) — instead of one oversized leaf.
    * `btreeInternalK` additionally caps INTERNAL fan-out: internal nodes
    * (including the root) split recursively at that cap, producing the
    * depth ≥ 2 internal-over-internal trees a million-chunk archive has
    * (libhdf5 splits every node at 2·istore_k; the reader recurses at any
    * depth). Requires `btreeLeafK`.
    * `eaIndex` (latest only) switches a multi-chunk dataset to the
    * EXTENSIBLE ARRAY chunk index — what libhdf5 picks for one unlimited
    * dimension, i.e. the appendable-archive shape; pair with `maxDims`
    * marking the record dimension unlimited. `bt2NodeSize` (latest only)
    * switches to the V2 B-TREE chunk index at the given node size — what
    * libhdf5 picks for ≥ 2 unlimited dimensions; small node sizes force
    * multi-level trees. `maxDims` adds a maximum-dimensions list to the
    * dataspace message (−1 entries = H5S_UNLIMITED).
    */
  final case class WDataset(
      name: String, dtype: DType, dims: Seq[Long], data: Array[Double],
      strAttrs: Seq[(String, String)] = Nil,
      numAttrs: Seq[(String, DType, Seq[Double])] = Nil,
      refAttrs: Seq[(String, Seq[Seq[String]])] = Nil,
      chunkDims: Option[Seq[Int]] = None,
      filters: Seq[H5Filter] = Nil,
      implicitIndex: Boolean = false,
      btreeLeafK: Option[Int] = None,
      btreeInternalK: Option[Int] = None,
      eaIndex: Boolean = false,
      bt2NodeSize: Option[Int] = None,
      maxDims: Option[Seq[Long]] = None,
      /** Fixed-array data-block page bits (default 10, libhdf5's): lower it
        * so a fixture-sized chunk count exceeds one page and the FADB pages.
        */
      faPageBits: Option[Int] = None,
      /** Extensible-array data-block page bits override, same purpose. */
      eaPageBits: Option[Int] = None,
      /** Chunk-grid slots to leave UNALLOCATED (fill): exercises undefined
        * element addresses and — when a whole page's slots are sparse —
        * uninitialized data-block pages. FA/EA indexes only.
        */
      sparseChunks: Set[Int] = Set.empty,
      /** A DEFINED fill value (what netCDF-C stores for `_FillValue`):
        * unallocated chunks read as it. None writes it undefined (reads 0).
        */
      fillValue: Option[Double] = None)

  /** A root-group link for the writer: soft (in-file target path) or
    * external (target file + path). External links require `latest = true`
    * — libhdf5 stores user-defined link classes as link messages only;
    * old-style symbol-table entries encode just hard + soft.
    */
  sealed trait WLink { def name: String }
  final case class WSoftLink(name: String, target: String) extends WLink
  final case class WExternalLink(name: String, file: String,
      target: String) extends WLink

  private final class LeBuf {
    private val bo = new java.io.ByteArrayOutputStream()
    def size: Int = bo.size()
    def bytes: Array[Byte] = bo.toByteArray
    def u8(v: Int): this.type = { bo.write(v & 0xFF); this }
    def u16(v: Int): this.type = { u8(v); u8(v >> 8) }
    def u32(v: Long): this.type = { u16((v & 0xFFFF).toInt); u16(((v >> 16) & 0xFFFF).toInt) }
    def u64(v: Long): this.type = { u32(v & 0xFFFFFFFFL); u32((v >>> 32) & 0xFFFFFFFFL) }
    /** Little-endian unsigned in `n` bytes — chunk-size and extensible-array
      * block-offset fields use non-power-of-two widths.
      */
    def uvar(v: Long, n: Int): this.type = {
      (0 until n).foreach(i => u8(((v >>> (8 * i)) & 0xFF).toInt)); this
    }
    def raw(b: Array[Byte]): this.type = { bo.write(b); this }
    def padTo8(): this.type = { while (size % 8 != 0) u8(0); this }
  }

  private def pad8(n: Int): Int = (n + 7) / 8 * 8

  /** Encode a datatype message body (shared by datasets and attributes). */
  private def dtypeBytes(t: DType): Array[Byte] = {
    val b = new LeBuf
    t match {
      case I8 | I16 | I32 | I64 =>
        b.u8(0x10) // version 1, class 0 fixed-point
        b.u8(0x08).u8(0).u8(0) // LE, signed (bit 3)
        b.u32(t.size)
        b.u16(0).u16(t.size * 8) // bit offset, precision
      case F32 =>
        b.u8(0x11) // version 1, class 1 float
        b.u8(0x20).u8(0x1F).u8(0) // LE, implied-MSB mantissa norm; sign bit 31
        b.u32(4)
        b.u16(0).u16(32).u8(23).u8(8).u8(0).u8(23).u32(127)
      case F64 =>
        b.u8(0x11)
        b.u8(0x20).u8(0x3F).u8(0) // sign bit 63
        b.u32(8)
        b.u16(0).u16(64).u8(52).u8(11).u8(0).u8(52).u32(1023)
      case Str(sz) =>
        b.u8(0x13) // version 1, class 3 string
        b.u8(0).u8(0).u8(0) // null-terminated, ASCII
        b.u32(sz)
      case ObjRef =>
        b.u8(0x17) // version 1, class 7 reference
        b.u8(0).u8(0).u8(0) // object reference
        b.u32(8)
      case Vlen(base) =>
        b.u8(0x19) // version 1, class 9 vlen
        b.u8(0).u8(0).u8(0) // sequence
        b.u32(16)
        b.raw(dtypeBytes(base))
    }
    b.bytes
  }

  private def dataspaceBytes(dims: Seq[Long]): Array[Byte] = {
    val b = new LeBuf
    b.u8(1).u8(dims.length).u8(0).u8(0).u32(0) // v1, rank, flags, reserved
    dims.foreach(b.u64)
    b.bytes
  }

  private def encodeData(t: DType, data: Array[Double]): Array[Byte] = {
    val b = ByteBuffer.allocate(data.length * t.size).order(ByteOrder.LITTLE_ENDIAN)
    t match {
      case I8 => data.foreach(v => b.put(v.toByte))
      case I16 => data.foreach(v => b.putShort(v.toShort))
      case I32 => data.foreach(v => b.putInt(v.toInt))
      case I64 => data.foreach(v => b.putLong(v.toLong))
      case F32 => data.foreach(v => b.putFloat(v.toFloat))
      case F64 => data.foreach(b.putDouble)
      case o => throw new IllegalArgumentException(s"cannot encode $o data")
    }
    b.array()
  }

  /** Write `datasets` (plus `links`) as one HDF5 file. Every option has
    * the library default.
    *
    * `latest = true` emits the format's latest-version encodings — the
    * 48-byte checksummed superblock v3, v2 (`OHDR`) object headers, compact
    * link-message groups, dataspace v2, attribute v3, filter pipeline v2,
    * and data layout v4 (contiguous, or chunked with a Single Chunk or
    * Fixed Array index) — i.e. what `H5F_LIBVER_LATEST` produces for this
    * subset. `latest = false` keeps the default-format encodings
    * (superblock v0, v1 headers, symbol-table groups, layout v3).
    *
    * `denseRoot = true` (latest only) stores the root group's links DENSE:
    * one fractal-heap managed object per link message plus a single-leaf
    * name-index v2 b-tree — what libhdf5 switches to when a group passes
    * its compact-storage phase-change limit (8 links by default).
    * `denseAttrs = true` (latest only) likewise stores each dataset's
    * attributes DENSE: the object header carries only an Attribute Info
    * message pointing at a per-dataset fractal heap + type-8 name-index
    * b-tree — what libhdf5 switches to past 8 attributes by default.
    *
    * `groupInternalK` is the superblock's declared group internal node k:
    * every classic group b-tree node (level 0 over SNODs, higher levels
    * over tree nodes) splits at 2·k children, recursively — libhdf5's rule
    * (default k = 16, so the tree goes multi-level past 32 SNODs ≈ 256
    * names). Lower it to exercise deep group trees on small fixtures.
    *
    * `denseNodeSize` is the v2 b-tree node size declared in every dense
    * name-index `BTHD` header (libhdf5 default 4096). The tree's depth
    * follows from it: one leaf below ~400 records, a depth-1 internal past
    * that, internal-over-internal once the cumulative depth-1 capacity
    * (~100k records at 4096) overflows — lower it to exercise deep trees on
    * small fixtures; the reader derives all geometry from the header.
    *
    * `denseIdLen` (0 = library defaults: 7-byte link / 8-byte attribute
    * IDs) widens the declared fractal-heap ID length so that short
    * messages take libhdf5's TINY inline path — at the defaults nothing
    * real fits an ID, exactly as in libhdf5-written files.
    *
    * `denseHeapGeom = Some((startBlockSize, maxDirectSize))` (both powers of
    * two, maxDirect ≥ 2·start) lays every dense store's fractal heap out as
    * a REAL multi-block doubling table: `FHIB` root, direct rows, and child
    * indirect blocks once the link/attribute data outruns the direct rows —
    * the wide-group shape of real many-variable archives, shrunk to fixture
    * scale. `None` (default) keeps one root direct block sized to fit.
    *
    * `sbV1 = true` (classic only) emits a version-1 superblock — v0 plus
    * the 2-byte Indexed Storage Internal Node K (written at libhdf5's
    * default 32) + 2 reserved bytes, the 1.6-era shape produced when
    * `istore_k` departs its default.
    */
  def write(path: String, datasets: Seq[WDataset], latest: Boolean = false,
      denseRoot: Boolean = false, denseAttrs: Boolean = false,
      groupInternalK: Int = 16, denseNodeSize: Int = 4096, denseIdLen: Int = 0,
      denseHeapGeom: Option[(Long, Long)] = None, sbV1: Boolean = false,
      links: Seq[WLink] = Nil, denseHeapFilter: Boolean = false): Unit = {
    require(!sbV1 || !latest, "superblock v1 is a classic-format shape")
    require(!denseRoot || latest, "dense root groups require the latest format")
    require(!denseHeapFilter || latest,
      "filtered dense heaps require the latest format")
    require(latest || links.forall(_.isInstanceOf[WSoftLink]),
      "external links require the latest format (link messages)")
    require(!denseAttrs || latest, "dense attribute storage requires the latest format")
    require(groupInternalK >= 1, "groupInternalK must be >= 1")
    require(denseNodeSize >= 48, "denseNodeSize implausibly small")
    require(denseIdLen == 0 || (denseIdLen >= 7 && denseIdLen <= 64),
      "denseIdLen must be 0 (defaults) or in [7, 64] (> 18 selects the " +
        "extended tiny sub-variant)")
    require(denseHeapGeom.isEmpty || denseRoot || denseAttrs,
      "denseHeapGeom shapes dense-storage fractal heaps — enable denseRoot or denseAttrs")
    datasets.foreach { d =>
      require(d.data.length == d.dims.product,
        s"${d.name}: data length ${d.data.length} != dims product ${d.dims.product}")
      d.chunkDims.foreach(cd => require(cd.length == 3 && d.dims.length == 3,
        s"${d.name}: chunked write supports 3-D only"))
      require(d.filters.isEmpty || d.chunkDims.isDefined,
        s"${d.name}: filters apply to chunked layouts only")
      require(!d.implicitIndex || d.filters.isEmpty,
        s"${d.name}: an implicit chunk index cannot carry filtered chunks")
      d.btreeLeafK.foreach { k =>
        require(k >= 1, s"${d.name}: btreeLeafK must be >= 1")
        require(d.chunkDims.isDefined, s"${d.name}: btreeLeafK needs a chunked layout")
        require(!latest,
          s"${d.name}: btreeLeafK shapes the v1 chunk b-tree — classic format only")
      }
      d.btreeInternalK.foreach { k =>
        require(k >= 2, s"${d.name}: btreeInternalK must be >= 2")
        require(d.btreeLeafK.isDefined,
          s"${d.name}: btreeInternalK splits internal nodes — needs btreeLeafK first")
      }
      require(!(d.eaIndex && d.bt2NodeSize.isDefined),
        s"${d.name}: pick ONE of eaIndex / bt2NodeSize")
      if (d.eaIndex || d.bt2NodeSize.isDefined) {
        require(latest,
          s"${d.name}: extensible-array / v2-b-tree chunk indexes are latest-format only")
        require(d.chunkDims.isDefined,
          s"${d.name}: extensible-array / v2-b-tree indexes need a chunked layout")
        require(!d.implicitIndex,
          s"${d.name}: implicitIndex conflicts with an explicit chunk index choice")
      }
      d.bt2NodeSize.foreach(ns => require(ns >= 48,
        s"${d.name}: v2-b-tree node size $ns implausibly small"))
      d.maxDims.foreach { md =>
        require(md.length == d.dims.length,
          s"${d.name}: maxDims rank ${md.length} != dims rank ${d.dims.length}")
        require(latest, s"${d.name}: maxDims is emitted by the v2 dataspace " +
          "message only — latest format required")
      }
    }
    val names = datasets.map(_.name)
    require(names.distinct == names, "duplicate dataset names")
    // group members = datasets + links, one flat name order shared by the
    // symbol-table layout, the compact link messages, and the dense store
    val linkByName: Map[String, WLink] = links.map(l => l.name -> l).toMap
    val memberNames: Seq[String] = (names ++ links.map(_.name)).sorted
    require(memberNames.distinct == memberNames, "duplicate member names")

    // ---- global heap objects: one per refAttr LIST ELEMENT, indexed 1..K
    // gcolIndex: (dataset, attr, element) -> heap object index
    val gcolEntries = for {
      d <- datasets; (attr, lists) <- d.refAttrs; (refs, i) <- lists.zipWithIndex
    } yield ((d.name, attr, i), refs)
    val gcolIndex = gcolEntries.map(_._1).zipWithIndex.map { case (k, i) => k -> (i + 1) }.toMap

    // ---- local heap data segment: offset 0 = empty string, names 8-aligned
    val heapOffsets = scala.collection.mutable.Map[String, Long]()
    val heapData = new LeBuf
    heapData.u64(0)
    memberNames.foreach { n =>
      heapOffsets(n) = heapData.size.toLong
      heapData.raw(n.getBytes("UTF-8")).u8(0).padTo8()
    }
    // classic soft links keep their VALUE in the local heap too; the
    // symbol-table entry's scratch pad points at it (spec III.C)
    val linkValOffsets = scala.collection.mutable.Map[String, Long]()
    links.foreach {
      case WSoftLink(n, target) =>
        linkValOffsets(n) = heapData.size.toLong
        heapData.raw(target.getBytes("UTF-8")).u8(0).padTo8()
      case _ => ()
    }

    // ---- block builders, each a pure function of the resolved address map
    type Resolve = String => Long

    def superblock(res: Resolve): Array[Byte] = {
      val b = new LeBuf
      b.raw(Magic)
      b.u8(if (sbV1) 1 else 0) // superblock version
      b.u8(0).u8(0).u8(0).u8(0) // freespace/rootgroup/reserved/shared versions
      b.u8(8).u8(8).u8(0) // offset size, length size, reserved
      b.u16(4).u16(groupInternalK) // group leaf k, internal k
      if (sbV1) b.u16(32).u16(0) // indexed storage internal k (default) + reserved
      b.u32(0) // consistency flags
      b.u64(0) // base address
      b.u64(-1L) // free space (undefined)
      b.u64(res("eof"))
      b.u64(-1L) // driver info
      // root symbol table entry
      b.u64(0).u64(res("oh:/")) // name offset, object header
      b.u32(1).u32(0) // cache type 1 + reserved
      b.u64(res("btree")).u64(res("heap")) // scratch: btree + heap
      b.bytes
    }

    def msg(b: LeBuf, mtype: Int, body: Array[Byte]): Unit = {
      val padded = pad8(body.length)
      b.u16(mtype).u16(padded).u8(0).u8(0).u8(0).u8(0)
      b.raw(body)
      (body.length until padded).foreach(_ => b.u8(0))
    }

    def objectHeader(msgs: Seq[(Int, Array[Byte])]): Array[Byte] = {
      val body = new LeBuf
      msgs.foreach { case (t, m) => msg(body, t, m) }
      val b = new LeBuf
      b.u8(1).u8(0).u16(msgs.length).u32(1).u32(body.size)
      b.u32(0) // pad to 8-align the message data
      b.raw(body.bytes)
      b.bytes
    }

    def rootOh(res: Resolve): Array[Byte] = {
      val st = new LeBuf
      st.u64(res("btree")).u64(res("heap"))
      objectHeader(Seq(0x0011 -> st.bytes))
    }

    def heapBlock(res: Resolve): Array[Byte] = {
      val b = new LeBuf
      b.raw("HEAP".getBytes).u8(0).u8(0).u8(0).u8(0)
      b.u64(heapData.size).u64(-1L) // data size, free list head (none)
      b.u64(res("heapdata"))
      b.bytes
    }

    // The superblock declares group leaf k = 4, so a symbol table node holds
    // at most 2k = 8 entries (spec III.A.1) — libhdf5 splits there, and so
    // does this writer: past 8 names the root b-tree fans out over multiple
    // SNODs instead of overstuffing one (the many-variable-archive case).
    val nameGroups: Seq[Seq[String]] = memberNames.grouped(8).toSeq

    // Every group TREE node caps at 2·groupInternalK children (the
    // superblock's declared internal k — libhdf5 splits there), so past
    // that many SNODs the tree grows internal levels recursively.
    val gcap = 2 * groupInternalK

    /** Node counts per group-b-tree level: counts(0) = level-0 nodes (the
      * ones pointing at SNODs), ending at the single root. */
    def gtreeLevels: Seq[Int] = {
      val l0 = (nameGroups.length + gcap - 1) / gcap
      Iterator.iterate(l0)(n => (n + gcap - 1) / gcap).takeWhile(_ > 1).toSeq :+ 1
    }

    def gtreeNodeName(level: Int, j: Int): String =
      if (level == gtreeLevels.length - 1) "btree" else s"gbt:$level:$j"

    /** SNODs per subtree of one child at `level` (a level-l node's children
      * each cover gcap^l SNODs). Long to survive absurd caps. */
    def gtreeSpan(level: Int): Long =
      (0 until level).foldLeft(1L)((a, _) => a * gcap)

    /** One group-b-tree node. Keys interleave children (key0 child0 key1 …
      * childN-1 keyN): key0 is 0 (the empty string, lowest) on the leftmost
      * path and the greatest name BEFORE the subtree otherwise; key i+1 is
      * the greatest name in child i's subtree (spec III.A.1, type 0).
      */
    def gtreeNode(level: Int, j: Int, res: Resolve): Array[Byte] = {
      val counts = gtreeLevels
      val below = if (level == 0) nameGroups.length else counts(level - 1)
      val lo = j * gcap
      val hi = math.min(below, lo + gcap)
      val b = new LeBuf
      b.raw("TREE".getBytes).u8(0).u8(level).u16(hi - lo)
      b.u64(if (j > 0) res(gtreeNodeName(level, j - 1)) else -1L)
      b.u64(if (j < counts(level) - 1) res(gtreeNodeName(level, j + 1)) else -1L)
      val firstSnod = lo * gtreeSpan(level)
      b.u64(if (firstSnod == 0) 0L
        else heapOffsets(nameGroups((firstSnod - 1).toInt).last))
      (lo until hi).foreach { ci =>
        b.u64(res(if (level == 0) s"snod:$ci" else gtreeNodeName(level - 1, ci)))
        val lastSnod = math.min(nameGroups.length - 1L, (ci + 1) * gtreeSpan(level) - 1)
        b.u64(heapOffsets(nameGroups(lastSnod.toInt).last))
      }
      b.bytes
    }

    def btreeBlock(res: Resolve): Array[Byte] =
      gtreeNode(gtreeLevels.length - 1, 0, res)

    def snodBlock(j: Int, res: Resolve): Array[Byte] = {
      val b = new LeBuf
      b.raw("SNOD".getBytes).u8(1).u8(0).u16(nameGroups(j).length)
      nameGroups(j).foreach { n =>
        linkByName.get(n) match {
          case Some(WSoftLink(_, _)) =>
            // symlink entry: undefined object header, cache type 2, the
            // scratch pad's first 4 bytes = link value's heap offset
            b.u64(heapOffsets(n)).u64(-1L)
            b.u32(2).u32(0) // cache type 2 + reserved
            b.u32(linkValOffsets(n)).u32(0).u64(0) // scratch
          case Some(l) => throw new IllegalStateException(
            s"classic symbol table cannot hold $l") // guarded at entry
          case None =>
            b.u64(heapOffsets(n)).u64(res(s"oh:$n"))
            b.u32(0).u32(0) // cache type 0 + reserved
            b.u64(0).u64(0) // scratch
        }
      }
      b.bytes
    }

    def attrBytes(name: String, dtype: DType, dims: Seq[Long],
        data: Array[Byte]): Array[Byte] = {
      val nameB = name.getBytes("UTF-8") :+ 0.toByte
      val dtB = dtypeBytes(dtype)
      val dsB = dataspaceBytes(dims)
      val b = new LeBuf
      b.u8(1).u8(0).u16(nameB.length).u16(dtB.length).u16(dsB.length)
      b.raw(nameB); (nameB.length until pad8(nameB.length)).foreach(_ => b.u8(0))
      b.raw(dtB); (dtB.length until pad8(dtB.length)).foreach(_ => b.u8(0))
      b.raw(dsB); (dsB.length until pad8(dsB.length)).foreach(_ => b.u8(0))
      b.raw(data)
      b.bytes
    }

    def datasetOh(d: WDataset, res: Resolve): Array[Byte] = {
      val msgs = scala.collection.mutable.ArrayBuffer[(Int, Array[Byte])]()
      msgs += 0x0001 -> dataspaceBytes(d.dims)
      msgs += 0x0003 -> dtypeBytes(d.dtype)
      locally { // fill value v2: undefined, or defined with its value
        val f = new LeBuf; f.u8(2).u8(1).u8(0)
        d.fillValue match {
          case None => f.u8(0)
          case Some(v) => f.u8(1).u32(d.dtype.size).raw(encodeData(d.dtype, Array(v)))
        }
        msgs += 0x0005 -> f.bytes
      }
      locally {
        val l = new LeBuf
        d.chunkDims match {
          case None =>
            l.u8(3).u8(1) // v3 contiguous
            l.u64(res(s"data:${d.name}"))
            l.u64(d.data.length.toLong * d.dtype.size)
          case Some(cd) =>
            l.u8(3).u8(2).u8(cd.length + 1) // v3 chunked
            l.u64(res(s"chunkbt:${d.name}"))
            cd.foreach(c => l.u32(c))
            l.u32(d.dtype.size)
        }
        msgs += 0x0008 -> l.bytes
      }
      if (d.filters.nonEmpty) {
        // v1 pipeline, zero-length names, odd client-value lists padded
        val f = new LeBuf
        f.u8(1).u8(d.filters.length).u16(0).u32(0)
        d.filters.foreach { flt =>
          val (id, cvals) = flt match {
            case Deflate(level) => (1, Seq(level.toLong))
            case Shuffle(esz) => (2, Seq(esz.toLong))
            case Fletcher32 => (3, Nil)
          }
          f.u16(id).u16(0).u16(0).u16(cvals.length)
          cvals.foreach(f.u32)
          if (cvals.length % 2 == 1) f.u32(0)
        }
        msgs += 0x000B -> f.bytes
      }
      d.strAttrs.foreach { case (an, s) =>
        val sb = s.getBytes("UTF-8") :+ 0.toByte
        msgs += 0x000C -> attrBytes(an, Str(sb.length), Nil, sb)
      }
      d.numAttrs.foreach { case (an, t, nums) =>
        msgs += 0x000C -> attrBytes(an, t, Seq(nums.length.toLong),
          encodeData(t, nums.toArray))
      }
      d.refAttrs.foreach { case (an, lists) =>
        val data = new LeBuf
        lists.zipWithIndex.foreach { case (refs, i) =>
          data.u32(refs.length)
          data.u64(res("gcol"))
          data.u32(gcolIndex((d.name, an, i)))
        }
        msgs += 0x000C -> attrBytes(an, Vlen(ObjRef), Seq(lists.length.toLong),
          data.bytes)
      }
      objectHeader(msgs.toSeq)
    }

    def gcolBlock(res: Resolve): Array[Byte] = {
      val objs = new LeBuf
      gcolEntries.foreach { case (key, refs) =>
        objs.u16(gcolIndex(key)).u16(1).u32(0)
        objs.u64(refs.length * 8L)
        refs.foreach(n => objs.u64(res(s"oh:$n")))
        objs.padTo8()
      }
      val collSize = 16L + objs.size + 16 // header + objects + terminator
      val b = new LeBuf
      b.raw("GCOL".getBytes).u8(1).u8(0).u8(0).u8(0)
      b.u64(collSize)
      b.raw(objs.bytes)
      b.u16(0).u16(0).u32(0).u64(16) // free-space terminator
      b.bytes
    }

    /** Apply the pipeline in declaration order (reads undo it in reverse). */
    def applyFilters(filters: Seq[H5Filter], bytes: Array[Byte]): Array[Byte] =
      filters.foldLeft(bytes) {
        case (b, Shuffle(esz)) => shuffleBytes(b, esz)
        case (b, Deflate(level)) => deflateBytes(b, level)
        case (b, Fletcher32) =>
          val sum = fletcher32(b, b.length)
          val out = java.util.Arrays.copyOf(b, b.length + 4)
          out(b.length) = (sum & 0xFF).toByte
          out(b.length + 1) = ((sum >> 8) & 0xFF).toByte
          out(b.length + 2) = ((sum >> 16) & 0xFF).toByte
          out(b.length + 3) = ((sum >> 24) & 0xFF).toByte
          out
      }

    /** Chunk the row-major data of a 3-D dataset; returns (offsets, stored
      * bytes) — stored = filtered when the dataset declares a pipeline.
      * Memoized per dataset: block builders (b-tree nodes, leaf lists,
      * individual chunk blocks) and both resolver passes each consult the
      * chunk list, and re-running the deflate pipeline per consultation
      * made the writer O(chunks × blocks) in compression work.
      */
    val chunksMemo = scala.collection.mutable.Map[String, Seq[(Seq[Long], Array[Byte])]]()
    def chunksOf(d: WDataset): Seq[(Seq[Long], Array[Byte])] =
      chunksMemo.getOrElseUpdate(d.name, chunksOfUncached(d))
    def chunksOfUncached(d: WDataset): Seq[(Seq[Long], Array[Byte])] = {
      val Seq(tN, yN, xN) = d.dims.map(_.toInt): @unchecked
      val Seq(ct, cy, cx) = d.chunkDims.get: @unchecked
      for {
        t0 <- 0 until tN by ct; y0 <- 0 until yN by cy; x0 <- 0 until xN by cx
      } yield {
        val vals = new Array[Double](ct * cy * cx) // edge chunks zero-padded
        for (t <- 0 until ct; y <- 0 until cy; x <- 0 until cx) {
          val (gt, gy, gx) = (t0 + t, y0 + y, x0 + x)
          if (gt < tN && gy < yN && gx < xN)
            vals((t * cy + y) * cx + x) = d.data((gt * yN + gy) * xN + gx)
        }
        (Seq(t0.toLong, y0.toLong, x0.toLong),
          applyFilters(d.filters, encodeData(d.dtype, vals)))
      }
    }

    /** Leaf-node partition of a dataset's chunks: one group per level-0
      * b-tree node. Chunks keep their global index (the `chunk:<ds>:<i>`
      * block names), so grouping never moves chunk payloads.
      */
    def chunkGroups(d: WDataset): Seq[Seq[((Seq[Long], Array[Byte]), Int)]] = {
      val cs = chunksOf(d).zipWithIndex
      d.btreeLeafK match {
        case Some(k) if cs.length > k => cs.grouped(k).toSeq
        case _ => Seq(cs)
      }
    }

    /** One v1-b-tree key: stored chunk size, filter mask, per-dim element
      * offsets, trailing element-size offset 0. Internal-node key i is the
      * key of the FIRST chunk in child i's subtree (spec III.A.1).
      */
    def chunkKey(b: LeBuf, off: Seq[Long], size: Int): Unit = {
      b.u32(size).u32(0)
      off.foreach(b.u64); b.u64(0)
    }

    def chunkLeafNode(d: WDataset, j: Int, res: Resolve): Array[Byte] = {
      val groups = chunkGroups(d)
      val g = groups(j)
      val b = new LeBuf
      b.raw("TREE".getBytes).u8(1).u8(0).u16(g.length)
      b.u64(if (j > 0) res(s"chunkleaf:${d.name}:${j - 1}") else -1L)
      b.u64(if (j < groups.length - 1) res(s"chunkleaf:${d.name}:${j + 1}") else -1L)
      g.foreach { case ((off, bytes), gi) =>
        chunkKey(b, off, bytes.length)
        b.u64(res(s"chunk:${d.name}:$gi"))
      }
      // trailing key = right sibling's first key; dims upper bound at the end
      if (j < groups.length - 1) {
        val ((noff, nbytes), _) = groups(j + 1).head
        chunkKey(b, noff, nbytes.length)
      } else {
        b.u32(0).u32(0); d.dims.foreach(b.u64); b.u64(0)
      }
      b.bytes
    }

    /** Node counts per chunk-b-tree level: counts(0) = leaf nodes, each
      * higher level groups the one below by `btreeInternalK` (unbounded
      * without it — ONE internal root regardless of fan-out), ending at the
      * single root. Length 1 ⇔ the root IS the leaf.
      */
    def chunkTreeLevels(d: WDataset): Seq[Int] = {
      val leaves = chunkGroups(d).length
      if (leaves == 1) Seq(1)
      else {
        val kInt = d.btreeInternalK.getOrElse(Int.MaxValue)
        val ups = Iterator.iterate(leaves)(n => ((n.toLong + kInt - 1) / kInt).toInt)
          .drop(1).takeWhile(_ > 1).toSeq
        (leaves +: ups) :+ 1
      }
    }

    def chunkNodeName(d: WDataset, level: Int, j: Int): String =
      if (level == 0) s"chunkleaf:${d.name}:$j"
      else s"chunkint:${d.name}:$level:$j"

    /** First chunk (offsets, stored size) of the subtree rooted at node
      * (level, idx) — the key a PARENT stores for that child (spec III.A.1).
      */
    def firstChunkOf(d: WDataset, level: Int, idx: Int): (Seq[Long], Int) =
      if (level == 0) {
        val ((off, bytes), _) = chunkGroups(d)(idx).head
        (off, bytes.length)
      } else {
        // idx > 0 requires a finite internal cap (an uncapped level holds
        // exactly one node), so the long product below never overflows use
        val kInt = d.btreeInternalK.getOrElse(Int.MaxValue)
        firstChunkOf(d, level - 1, if (idx == 0) 0 else idx * kInt)
      }

    /** One internal (level ≥ 1) v1 chunk-b-tree node: children are the
      * contiguous run [j·kInt, (j+1)·kInt) of the level below, key i is the
      * first chunk of child i's subtree, the trailing key is the right
      * sibling's first key (or the dims upper bound on the rightmost node),
      * and same-level siblings chain left/right — recursion the READER
      * already performs at any depth; this writes the shapes a real archive
      * reaches once leaf count outgrows one internal node (libhdf5 splits
      * every node at 2·istore_k).
      */
    def chunkInternalNode(d: WDataset, level: Int, j: Int, res: Resolve): Array[Byte] = {
      val counts = chunkTreeLevels(d)
      val kInt = d.btreeInternalK.getOrElse(Int.MaxValue)
      val below = counts(level - 1)
      val lo = if (j == 0) 0 else j * kInt
      val hi = math.min(below.toLong, (j.toLong + 1) * kInt).toInt
      val nNodes = counts(level)
      val b = new LeBuf
      b.raw("TREE".getBytes).u8(1).u8(level).u16(hi - lo)
      b.u64(if (j > 0) res(chunkNodeName(d, level, j - 1)) else -1L)
      b.u64(if (j < nNodes - 1) res(chunkNodeName(d, level, j + 1)) else -1L)
      (lo until hi).foreach { ci =>
        val (off, size) = firstChunkOf(d, level - 1, ci)
        chunkKey(b, off, size)
        b.u64(res(chunkNodeName(d, level - 1, ci)))
      }
      if (j < nNodes - 1) {
        val (noff, nsize) = firstChunkOf(d, level - 1, hi)
        chunkKey(b, noff, nsize)
      } else { b.u32(0).u32(0); d.dims.foreach(b.u64); b.u64(0) }
      b.bytes
    }

    def chunkBtree(d: WDataset, res: Resolve): Array[Byte] = {
      val counts = chunkTreeLevels(d)
      if (counts.length == 1) { // single leaf: the root IS the level-0 node
        val cs = chunkGroups(d).head
        val b = new LeBuf
        b.raw("TREE".getBytes).u8(1).u8(0).u16(cs.length)
        b.u64(-1L).u64(-1L)
        cs.foreach { case ((off, bytes), i) =>
          chunkKey(b, off, bytes.length)
          b.u64(res(s"chunk:${d.name}:$i"))
        }
        b.u32(0).u32(0)
        d.dims.foreach(b.u64); b.u64(0)
        b.bytes
      } else chunkInternalNode(d, counts.length - 1, 0, res)
    }

    // ---- latest-format builders (superblock v3 / OHDR v2 / layout v4)

    def u32ck(b: LeBuf): Array[Byte] = { // append the block's lookup3 checksum
      b.u32(lookup3(b.bytes).toLong & 0xFFFFFFFFL)
      b.bytes
    }

    def superblockV3(res: Resolve): Array[Byte] = {
      val b = new LeBuf
      b.raw(Magic)
      b.u8(3).u8(8).u8(8).u8(0) // version, offset size, length size, flags
      b.u64(0) // base address
      b.u64(-1L) // superblock extension (none)
      b.u64(res("eof"))
      b.u64(res("oh:/"))
      u32ck(b)
    }

    def objectHeaderV2(msgs: Seq[(Int, Array[Byte])]): Array[Byte] = {
      val body = new LeBuf
      msgs.foreach { case (t, m) =>
        body.u8(t).u16(m.length).u8(0) // type, size, flags — no padding in v2
        body.raw(m)
      }
      val b = new LeBuf
      b.raw("OHDR".getBytes).u8(2).u8(0x02) // version 2, 4-byte chunk-0 size
      b.u32(body.size)
      b.raw(body.bytes)
      u32ck(b)
    }

    def linkMsgBytes(n: String, res: Resolve): Array[Byte] = {
      val nb = n.getBytes("UTF-8")
      require(nb.length <= 255, s"link name too long: $n")
      val l = new LeBuf
      linkByName.get(n) match {
        case None => // hard link to a dataset's object header
          l.u8(1).u8(0) // version, flags: hard link, 1-byte name length
          l.u8(nb.length).raw(nb)
          l.u64(res(s"oh:$n"))
        case Some(WSoftLink(_, target)) =>
          l.u8(1).u8(0x08) // flags: explicit link type, 1-byte name length
          l.u8(1) // link type 1 = soft
          l.u8(nb.length).raw(nb)
          val tb = target.getBytes("UTF-8")
          l.u16(tb.length).raw(tb) // 2-byte length + value, no NUL
        case Some(WExternalLink(_, file, target)) =>
          l.u8(1).u8(0x08)
          l.u8(64) // registered user-defined class 64 = external
          l.u8(nb.length).raw(nb)
          val fb = file.getBytes("UTF-8"); val tb = target.getBytes("UTF-8")
          l.u16(1 + fb.length + 1 + tb.length + 1)
          l.u8(0) // external-link version 0 (high nibble), flags 0
          l.raw(fb).u8(0).raw(tb).u8(0) // two NUL-terminated strings
      }
      l.bytes
    }

    def rootOhV2(res: Resolve): Array[Byte] = {
      val linkInfo = new LeBuf
      linkInfo.u8(0).u8(0) // version, flags (no creation-order tracking)
      if (denseRoot) // links live in the fractal heap + name-index b-tree
        linkInfo.u64(res("rootdx:frhp")).u64(res("rootdx:bthd"))
      else // compact: undefined addresses, one 0x0006 message per member
        linkInfo.u64(-1L).u64(-1L)
      val groupInfo = new LeBuf
      groupInfo.u8(0).u8(0) // version, flags (default phase-change bounds)
      val links =
        if (denseRoot) Nil
        else memberNames.map(n => 0x0006 -> linkMsgBytes(n, res))
      objectHeaderV2(
        Seq(0x0002 -> linkInfo.bytes, 0x000A -> groupInfo.bytes) ++ links)
    }

    // ---- dense storage builder: one fractal heap (FRHP + one root FHDB
    // direct block) holding message bodies as managed objects, indexed by a
    // single-leaf name-index v2 b-tree (BTHD + BTLF). Serves the dense root
    // group (b-tree type 5, link-name records of hash + 7-byte heap ID) and
    // dense attribute storage (type 8, records of 8-byte heap ID + message
    // flags + creation order + hash — the order libhdf5 encodes). Geometry
    // mirrors the library defaults: 32-bit heap space (4-byte offsets),
    // 4 KiB max managed object (2-byte lengths).
    /** A v2 B-tree writer over `count` records already in KEY ORDER —
      * `recBytes(i, res)` returns record `i`'s bytes (fixed `recSize`). The
      * classic any-depth partition: a node owns its separator records;
      * children + separators partition the full sorted sequence (records
      * are NOT duplicated). The tree depth is the smallest whose cumulative
      * capacity fits the count; node capacities follow the reader twin's
      * per-depth formulas ([[readBtreeLeaf]]), so writer and reader can
      * never disagree on geometry. Shared by the dense-storage name indexes
      * (via [[DenseStore]]) and the v2-b-tree CHUNK indexes (record types
      * 10/11).
      */
    final class V2TreeWriter(prefix: String, btType: Int, nodeSize: Int,
        recSize: Int, count: Int, recBytes: (Int, Resolve) => Array[Byte]) {
      private def maxLeafRec: Int = (nodeSize - 10) / recSize
      private def bytesFor(v: Long): Int =
        (63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, v)) + 8) / 8
      private def nrecWidth: Int = bytesFor(maxLeafRec.toLong)
      /** (maxRec, cumMax, cumWidth) per depth — the reader twin's formulas. */
      private def geo(d: Int): (Long, Long, Int) =
        if (d == 0) (maxLeafRec.toLong, maxLeafRec.toLong, bytesFor(maxLeafRec.toLong))
        else {
          val ptr = 8 + nrecWidth + (if (d >= 2) geo(d - 1)._3 else 0)
          val maxRec = (nodeSize - 10 - ptr) / (recSize + ptr)
          require(maxRec >= 1, s"$prefix: node size $nodeSize too small for depth $d")
          val cum = (maxRec + 1).toLong * geo(d - 1)._2 + maxRec
          (maxRec.toLong, cum, bytesFor(cum))
        }

      private sealed trait BNode {
        def own: Seq[Int]; def depth: Int; def idx: Int
        def total: Long
      }
      private final case class BLeaf(own: Seq[Int], idx: Int) extends BNode {
        def depth = 0; def total: Long = own.length.toLong
      }
      private final case class BInt(depth: Int, own: Seq[Int],
          children: Seq[BNode], idx: Int) extends BNode {
        def total: Long = own.length.toLong + children.map(_.total).sum
      }
      private lazy val tree: BNode = {
        val n = count
        val depth = Iterator.from(0).find(d => n <= geo(d)._2).get
        // capacity-1 leaves cannot split without an empty child — a real
        // b-tree never has them (node sizes dwarf records); fail loudly
        require(depth == 0 || maxLeafRec >= 2,
          s"$prefix: node size $nodeSize holds one record per leaf — cannot split")
        val counters = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)
        def mk(recs: Seq[Int], d: Int): BNode = {
          val i = { val v = counters(d); counters(d) = v + 1; v }
          if (d == 0) BLeaf(recs, i)
          else {
            // smallest child count C with C·cum(d−1) + (C−1) ≥ n, i.e.
            // ceil((n+1)/(cum+1)) — the naive (n+cum)/(cum+1) undercounts
            // exactly when n is a multiple of cum+1, overstuffing a subtree
            val cum = geo(d - 1)._2
            val c = ((recs.length + cum + 1) / (cum + 1)).toInt
            val childTotal = recs.length - (c - 1)
            val base = childTotal / c; val extra = childTotal % c
            val kids = scala.collection.mutable.ArrayBuffer[BNode]()
            val seps = scala.collection.mutable.ArrayBuffer[Int]()
            var at = 0
            (0 until c).foreach { j =>
              val sz = base + (if (j < extra) 1 else 0)
              kids += mk(recs.slice(at, at + sz), d - 1); at += sz
              if (j < c - 1) { seps += recs(at); at += 1 }
            }
            BInt(d, seps.toSeq, kids.toSeq, i)
          }
        }
        mk(0 until count, depth)
      }
      private lazy val allNodes: Seq[BNode] = {
        def walk(n: BNode): Seq[BNode] = n match {
          case l: BLeaf => Seq(l)
          case i: BInt => i +: i.children.flatMap(walk)
        }
        walk(tree)
      }
      private def nodeSuffix(n: BNode): String = n match {
        case l: BLeaf => s"btlf:${l.idx}"
        case i: BInt => s"btin:${i.depth}:${i.idx}"
      }

      private def bthdBlock(res: Resolve): Array[Byte] = {
        val b = new LeBuf
        b.raw("BTHD".getBytes).u8(0).u8(btType)
        b.u32(nodeSize).u16(recSize)
        b.u16(tree.depth) // depth
        b.u8(100).u8(40) // split / merge percents (library defaults)
        b.u64(res(s"$prefix:${nodeSuffix(tree)}"))
        b.u16(tree.own.length)
        b.u64(count)
        u32ck(b)
      }

      /** Internal node: prefix, the node's own separator records, then
        * nrec+1 child pointers of (address, child record count in the
        * leaf-capacity width[, subtree total in the depth-(d−1) cumulative
        * width — only when children are themselves internal]) — the layout
        * readBtreeLeaf consumes at every depth.
        */
      private def btinBlock(node: BInt, res: Resolve): Array[Byte] = {
        val totWidth = if (node.depth >= 2) geo(node.depth - 1)._3 else 0
        val b = new LeBuf
        b.raw("BTIN".getBytes).u8(0).u8(btType)
        node.own.foreach(i => b.raw(recBytes(i, res)))
        node.children.foreach { k =>
          b.u64(res(s"$prefix:${nodeSuffix(k)}"))
          (0 until nrecWidth).foreach(i =>
            b.u8(((k.own.length.toLong >> (8 * i)) & 0xFF).toInt))
          (0 until totWidth).foreach(i =>
            b.u8(((k.total >> (8 * i)) & 0xFF).toInt))
        }
        u32ck(b)
      }

      private def btlfBlock(j: Int, res: Resolve): Array[Byte] = {
        val own = allNodes.collectFirst { case l: BLeaf if l.idx == j => l.own }.get
        val b = new LeBuf
        b.raw("BTLF".getBytes).u8(0).u8(btType)
        own.foreach(i => b.raw(recBytes(i, res)))
        u32ck(b)
      }

      def headerRef(res: Resolve): Long = res(s"$prefix:bthd")
      def blockNames: Seq[String] =
        Seq(s"$prefix:bthd") ++ allNodes.map(n => s"$prefix:${nodeSuffix(n)}")
      /** Build the block whose FULL name is `name`. */
      def build(name: String, res: Resolve): Array[Byte] =
        name.drop(prefix.length + 1) match {
          case "bthd" => bthdBlock(res)
          case n if n.startsWith("btin:") => // "btin:<depth>:<idx>"
            val Array(_, d, j) = n.split(":")
            btinBlock(allNodes.collectFirst {
              case b: BInt if b.depth == d.toInt && b.idx == j.toInt => b
            }.get, res)
          case l if l.startsWith("btlf:") => btlfBlock(l.drop(5).toInt, res)
          case o => throw new IllegalStateException(s"unknown v2-tree block $o")
        }
    }

    /** `geom = Some((startBlockSize, maxDirectSize))` switches the heap to a
      * REAL multi-block doubling-table layout (table width 4): managed
      * objects pack first-fit across direct blocks in heap-offset order, the
      * root becomes an `FHIB` indirect block, and rows past `max_direct_rows`
      * recurse into child indirect blocks — the shape libhdf5 grows once a
      * group's link data outruns `width × maxDirectSize`. `None` keeps the
      * library-common single root direct block sized to fit.
      */
    final class DenseStore(prefix: String, btType: Int, idLen: Int,
        items: Seq[(String, Resolve => Array[Byte])],
        nodeSize: Int = 4096, geom: Option[(Long, Long)] = None,
        filtered: Boolean = false) {
      /** Filtered heaps deflate at level 0 (stored blocks): the compressed
        * size is then a function of the LOGICAL size only, so the two-pass
        * layout (sizes under zero addresses, bytes under real ones) stays
        * sound — the reader inflates any valid stream either way.
        */
      private def filteredBytes(plain: Array[Byte]): Array[Byte] =
        deflateBytes(plain, 0)
      private def filteredSizeOf(logical: Long): Long =
        deflateBytes(new Array[Byte](logical.toInt), 0).length.toLong
      private def pipelineBytes: Array[Byte] = {
        val f = new LeBuf
        f.u8(1).u8(1).u16(0).u32(0) // v1 pipeline message, one filter
        f.u16(1).u16(0).u16(0).u16(1) // deflate, no name, flags, 1 value
        f.u32(0).u32(0) // client value: level 0, + odd-count pad
        f.bytes
      }
      private val maxManaged = 4096L
      private val offSize = 4; private val lenSize = 2
      private val headerSize = 4 + 1 + 8 + offSize + 4 // FHDB prefix + checksum
      private val tableW = 4
      geom.foreach { case (s0, m0) =>
        require(java.lang.Long.bitCount(s0) == 1 && java.lang.Long.bitCount(m0) == 1 &&
            s0 > headerSize && m0 >= 2 * s0,
          s"$prefix: heap geometry ($s0, $m0) must be powers of two with " +
            s"maxDirect >= 2*start and start > $headerSize")
      }
      private lazy val itemLens: Seq[Int] = {
        val zeroR: Resolve = _ => 0L
        items.map { case (_, body) => body(zeroR).length }
      }
      /** Items past the max managed size become HUGE objects: stored as
        * standalone file blocks indexed by the heap's type-1 v2 b-tree,
        * exactly libhdf5's spill path for big payloads (e.g. large array
        * attributes). Everything else is a managed object in the root
        * direct block.
        */
      private lazy val hugeIdx: Seq[Int] = items.indices.filter(itemLens(_) > maxManaged)
      /** Items that fit inside the heap ID itself become TINY objects —
        * libhdf5's inline path, reachable here only with a widened `idLen`
        * since no real link/attr message fits the default 7/8 bytes.
        * idLen ≤ 18: the NORMAL sub-variant (1 header byte, ≤ 16 bytes of
        * data). idLen > 18: the EXTENDED sub-variant (2 header bytes, a
        * 12-bit length, up to idLen − 2 bytes of data).
        */
      private def tinyMax: Int =
        if (idLen > 18) math.min(idLen - 2, 4096) else math.min(idLen - 1, 16)
      private lazy val tinyIdx: Seq[Int] = items.indices.filter(ix =>
        itemLens(ix) <= tinyMax && itemLens(ix) >= 1)
      private lazy val managedIdx: Seq[Int] = items.indices
        .filterNot(ix => itemLens(ix) > maxManaged || tinyIdx.contains(ix))
      /** (heap offset, length) per MANAGED item, and the root block size. */
      private lazy val geometry: (Seq[(Long, Int)], Long) = {
        val lens = managedIdx.map(itemLens)
        val offs = lens.scanLeft(headerSize.toLong)(_ + _)
        var bs = 512L
        while (bs < offs.last) bs <<= 1
        (offs.zip(lens), bs)
      }
      private def extents: Seq[(Long, Int)] = geometry._1
      private def blockSize: Long = geometry._2

      // ---- multi-block (doubling-table) layout, active when geom is set
      private def rowSizeOf(s0: Long, row: Int): Long =
        if (row < 2) s0 else s0 << (row - 1)
      /** Heap offset where table row `row` starts: W·S·2^(row−1) (rows 0–1
        * are both S-sized, then each row doubles — the closed form of the
        * doubling-table prefix sum).
        */
      private def rowStartOf(s0: Long, row: Int): Long =
        if (row == 0) 0L else (tableW.toLong * s0) << (row - 1)
      private def maxDirectRowsW: Int = {
        val (s0, m0) = geom.get
        63 - java.lang.Long.numberOfLeadingZeros(m0 / s0) + 2
      }
      private def logW: Int = Integer.numberOfTrailingZeros(tableW)
      /** Direct blocks in heap-offset order as (path, absOff, size). Paths
        * name tree positions — "3.2/0.1" is row 3 col 2's child indirect
        * block, row 0 col 1 inside it — so the packer, the FHIB builders,
        * and the block-name registry all agree on structure. Indirect rows
        * expand in place, recursively, mirroring the reader twin.
        */
      private def directBlockStream: LazyList[(String, Long, Long)] = {
        val (s0, _) = geom.get
        val mdr = maxDirectRowsW
        def table(pfx: String, base: Long,
            rows: LazyList[Int]): LazyList[(String, Long, Long)] =
          rows.flatMap { r =>
            val bs = rowSizeOf(s0, r)
            LazyList.range(0, tableW).flatMap { c =>
              val off = base + rowStartOf(s0, r) + c * bs
              if (r < mdr) LazyList((s"$pfx$r.$c", off, bs))
              else table(s"$pfx$r.$c/", off, LazyList.range(0, r - logW))
            }
          }
        table("", 0L, LazyList.from(0))
      }
      /** First-fit packing of the managed objects over [[directBlockStream]]:
        * per-item (absolute heap offset, length), the USED blocks as
        * (path, absOff, size, items), and the root row count. Objects never
        * span blocks (as in libhdf5); requiring each object to fit a
        * starting-size block's payload guarantees the packer advances.
        */
      private lazy val multi: (Map[Int, (Long, Int)],
          Seq[(String, Long, Long, Seq[(Int, Long)])], Int) = {
        val (s0, _) = geom.get
        require(managedIdx.nonEmpty, s"$prefix: multi-block heap with no managed objects")
        var stream = directBlockStream
        val used = scala.collection.mutable.ArrayBuffer[
          (String, Long, Long, scala.collection.mutable.ArrayBuffer[(Int, Long)])]()
        var curUsed = 0L
        for (ix <- managedIdx) {
          val len = itemLens(ix).toLong
          require(len <= s0 - headerSize,
            s"$prefix: $len-byte object exceeds the $s0-byte starting block's payload")
          if (used.isEmpty || curUsed + len > used.last._3) {
            val (p, o, sz) = stream.head; stream = stream.tail
            used += ((p, o, sz,
              scala.collection.mutable.ArrayBuffer[(Int, Long)]()))
            curUsed = headerSize.toLong
          }
          used.last._4 += ((ix, used.last._2 + curUsed))
          curUsed += len
        }
        val offs = used.flatMap(_._4.map { case (ix, off) =>
          ix -> (off, itemLens(ix)) }).toMap
        val rootRows = used.map(_._1.takeWhile(_ != '.').toInt).max + 1
        (offs, used.map(b => (b._1, b._2, b._3, b._4.toSeq)).toSeq, rootRows)
      }
      /** Every indirect block the used direct blocks imply (tree positions
        * above them), as directory paths — "root" is named separately.
        */
      private lazy val fhibPaths: Seq[String] =
        multi._2.flatMap { case (p, _, _, _) =>
          val segs = p.split('/')
          (1 until segs.length).map(k => segs.take(k).mkString("/"))
        }.distinct

      /** One `FHIB` indirect block: header, row-major child addresses
        * (direct rows point at used `FHDB`s, higher rows at child `FHIB`s,
        * never-allocated positions at the undefined address), checksum.
        */
      private def fhibBlock(dir: String, res: Resolve): Array[Byte] = {
        val (s0, _) = geom.get
        val mdr = maxDirectRowsW
        val (pfx, base, nrows) =
          if (dir == "root") ("", 0L, multi._3)
          else {
            var b = 0L
            dir.split('/').foreach { seg =>
              val Array(r, c) = seg.split('.').map(_.toInt)
              b += rowStartOf(s0, r) + c * rowSizeOf(s0, r)
            }
            val lastRow = dir.split('/').last.split('.')(0).toInt
            (dir + "/", b, lastRow - logW)
          }
        val usedPaths = multi._2.map(_._1).toSet
        val b = new LeBuf
        b.raw("FHIB".getBytes).u8(0)
        b.u64(res(s"$prefix:frhp"))
        b.u32(base) // this block's heap offset (offSize = 4 bytes)
        for (r <- 0 until nrows; c <- 0 until tableW) {
          val name = s"$pfx$r.$c"
          val isDir = r < mdr
          val used = if (isDir) usedPaths(name)
            else usedPaths.exists(_.startsWith(name + "/"))
          b.u64(
            if (!used) -1L
            else if (isDir) res(s"$prefix:fhdb:$name")
            else res(s"$prefix:fhib:$name"))
          if (isDir && filtered) {
            // filtered heaps widen DIRECT entries: stored size + mask
            b.u64(if (used) filteredSizeOf(rowSizeOf(s0, r)) else 0L)
            b.u32(0)
          }
        }
        u32ck(b)
      }

      /** One direct block of the multi-block layout: same `FHDB` framing and
        * whole-block zeroed-field checksum as the single-block twin, at its
        * tree position's absolute heap offset and row size.
        */
      private def fhdbMultiBlock(pathName: String, res: Resolve): Array[Byte] = {
        val (_, off, size, its) = multi._2.find(_._1 == pathName).getOrElse(
          throw new IllegalStateException(s"$prefix: unknown direct block $pathName"))
        val out = new Array[Byte](size.toInt)
        val head = new LeBuf
        head.raw("FHDB".getBytes).u8(0).u64(res(s"$prefix:frhp"))
        head.u32(off) // absolute heap offset of this block (4-byte field)
        System.arraycopy(head.bytes, 0, out, 0, headerSize - 4)
        its.foreach { case (ix, absOff) =>
          val body = items(ix)._2(res)
          System.arraycopy(body, 0, out, (absOff - off).toInt, body.length)
        }
        val ck = lookup3(out)
        val cb = new LeBuf; cb.u32(ck.toLong & 0xFFFFFFFFL)
        System.arraycopy(cb.bytes, 0, out, headerSize - 4, 4)
        if (filtered) filteredBytes(out) else out
      }

      private def frhpBlock(res: Resolve): Array[Byte] = {
        // the geometry-dependent fields: (start size, max direct size, root
        // address, current rows, free space, managed = allocated space,
        // iterator offset)
        val (startSz, maxDir, rootRef, curRows, freeSpace, managedSpace, iterOff) =
          geom match {
            case Some((s0, m0)) =>
              val blocks = multi._2
              val alloc = blocks.map(_._3).sum
              val free = blocks.map(blk =>
                blk._3 - headerSize - blk._4.map(i => itemLens(i._1).toLong).sum).sum
              val last = blocks.last
              (s0, m0, res(s"$prefix:fhib:root"), multi._3, free, alloc,
                last._2 + last._3)
            case None =>
              val used = extents.lastOption.map(e => e._1 + e._2).getOrElse(0L)
              (blockSize, math.max(blockSize, maxManaged), res(s"$prefix:fhdb"),
                0, blockSize - used, blockSize, blockSize)
          }
        require(!(filtered && hugeIdx.nonEmpty),
          s"$prefix: filtered huge heap objects unsupported (btree type 3)")
        val b = new LeBuf
        b.raw("FRHP".getBytes).u8(0)
        b.u16(idLen).u16(if (filtered) pipelineBytes.length else 0)
        b.u8(0x02) // flags: direct blocks are checksummed
        b.u32(maxManaged)
        b.u64(hugeIdx.length + 1) // next huge object id (ids are 1-based)
        b.u64(if (hugeIdx.isEmpty) -1L else res(s"$prefix:hugebt"))
        b.u64(freeSpace).u64(-1L) // free space, free-space manager
        b.u64(managedSpace).u64(managedSpace) // managed space, allocated
        b.u64(iterOff) // direct-block iterator offset
        b.u64(managedIdx.length) // managed objects
        b.u64(hugeIdx.map(itemLens(_).toLong).sum).u64(hugeIdx.length) // huge size/count
        b.u64(tinyIdx.map(itemLens(_).toLong).sum).u64(tinyIdx.length) // tiny size/count
        b.u16(tableW) // table width
        b.u64(startSz) // starting block size
        b.u64(maxDir) // max direct block size
        b.u16(32).u16(math.max(curRows, 1)) // max heap bits, starting root rows
        b.u64(rootRef)
        b.u16(curRows) // 0 = root is a direct block, else root FHIB rows
        if (filtered) {
          // root-direct-block stored size + mask travel in the HEADER only
          // when the root is a direct block; then the pipeline message
          if (curRows == 0) { b.u64(filteredSizeOf(blockSize)); b.u32(0) }
          b.raw(pipelineBytes)
        }
        u32ck(b)
      }

      private def fhdbBlock(res: Resolve): Array[Byte] = {
        val out = new Array[Byte](blockSize.toInt)
        val head = new LeBuf
        head.raw("FHDB".getBytes).u8(0).u64(res(s"$prefix:frhp"))
        head.u32(0) // block offset within the heap space (4-byte field)
        System.arraycopy(head.bytes, 0, out, 0, headerSize - 4)
        managedIdx.zip(extents).foreach { case (ix, (off, _)) =>
          val body = items(ix)._2(res)
          System.arraycopy(body, 0, out, off.toInt, body.length)
        }
        // checksum over the whole block with its own field zeroed
        val ck = lookup3(out)
        val cb = new LeBuf; cb.u32(ck.toLong & 0xFFFFFFFFL)
        System.arraycopy(cb.bytes, 0, out, headerSize - 4, 4)
        if (filtered) filteredBytes(out) else out
      }

      /** Huge-object index: BTHD (type 1, depth 0) over one BTLF of
        * (address, length, id) records, id order = key order.
        */
      private def hugeBtBlock(res: Resolve): Array[Byte] = {
        // single-leaf only: (4096-10)/24 = 170 records fit the declared
        // node; more huge objects would need the same BTIN split as the
        // name index — fail loudly instead of overstuffing the leaf
        require(hugeIdx.length <= (4096 - 10) / 24,
          s"$prefix: ${hugeIdx.length} huge objects exceed one index leaf")
        val b = new LeBuf
        b.raw("BTHD".getBytes).u8(0).u8(1)
        b.u32(4096).u16(24) // node size; record = addr(8)+len(8)+id(8)
        b.u16(0) // depth
        b.u8(100).u8(40)
        b.u64(res(s"$prefix:hugebl"))
        b.u16(hugeIdx.length)
        b.u64(hugeIdx.length)
        u32ck(b)
      }

      private def hugeBlBlock(res: Resolve): Array[Byte] = {
        val b = new LeBuf
        b.raw("BTLF".getBytes).u8(0).u8(1)
        hugeIdx.zipWithIndex.foreach { case (ix, k) =>
          b.u64(res(s"$prefix:hugeobj:$k")).u64(itemLens(ix)).u64(k + 1)
        }
        u32ck(b)
      }

      /** The heap ID for item `ix`. Tiny IDs embed the message BODY, which
        * may reference other blocks (hard links carry the target object
        * header address), so IDs — and the b-tree records that contain
        * them — are built under `res`; their LENGTHS are res-independent.
        */
      private lazy val mOff: Map[Int, (Long, Int)] =
        if (geom.isDefined) multi._1 else managedIdx.zip(extents).toMap
      private lazy val hId = hugeIdx.zipWithIndex.map { case (ix, k) => ix -> (k + 1) }.toMap
      private def heapId(ix: Int, res: Resolve): Array[Byte] = {
        val id = new LeBuf
        if (hId.contains(ix)) {
          val v = hId(ix)
          id.u8(0x10) // version 0, type 1 = huge (indirect)
          // Long shift: an Int shift is mod-32, so byte 4 of the id
          // would alias byte 0 (1 >> 32 == 1) and corrupt every id
          (0 until idLen - 1).foreach(k => id.u8(((v.toLong >> (8 * k)) & 0xFF).toInt))
        } else if (tinyIdx.contains(ix)) {
          val body = items(ix)._2(res)
          if (idLen > 18) { // extended: 12-bit len-1 over flag nibble + byte
            id.u8(0x20 | ((body.length - 1) >> 8))
            id.u8((body.length - 1) & 0xFF)
            id.raw(body)
            (2 + body.length until idLen).foreach(_ => id.u8(0)) // pad
          } else {
            id.u8(0x20 | (body.length - 1)) // version 0, type 2 = tiny, len-1
            id.raw(body)
            (1 + body.length until idLen).foreach(_ => id.u8(0)) // pad
          }
        } else {
          val (off, len) = mOff(ix)
          id.u8(0x00) // version 0, managed object
          id.u32(off).u16(len)
          (1 + offSize + lenSize until idLen).foreach(_ => id.u8(0)) // pad
        }
        id.bytes
      }

      private def recSize: Int =
        if (btType == 5) 4 + idLen // hash + heap ID
        else idLen + 1 + 4 + 4 // heap ID + message flags + creation order + hash

      /** Item indices in b-tree key order (name hash, then name) — order
        * and count are res-free, so the tree SHAPE is a lazy val while the
        * record BYTES (which embed heap IDs) materialize under `res`.
        */
      private lazy val sortedIdx: Seq[Int] =
        items.indices
          .map(i => (lookup3(items(i)._1.getBytes("UTF-8")), items(i)._1, i))
          .sortBy { case (h, n, _) => (h.toLong & 0xFFFFFFFFL, n) }
          .map(_._3)
      private def recBytes(i: Int, res: Resolve): Array[Byte] = {
        val h = lookup3(items(i)._1.getBytes("UTF-8"))
        val b = new LeBuf
        if (btType == 5) b.u32(h.toLong & 0xFFFFFFFFL).raw(heapId(i, res))
        else b.raw(heapId(i, res)).u8(0).u32(i).u32(h.toLong & 0xFFFFFFFFL)
        b.bytes
      }

      /** The name-index tree itself: the generic writer over records in
        * hash-then-name key order.
        */
      private lazy val nameTree = new V2TreeWriter(prefix, btType, nodeSize,
        recSize, items.length, (i, res) => recBytes(sortedIdx(i), res))

      def fheapRef(res: Resolve): Long = res(s"$prefix:frhp")
      def btreeRef(res: Resolve): Long = res(s"$prefix:bthd")
      def blockNames: Seq[String] =
        (if (geom.isDefined)
          Seq(s"$prefix:frhp", s"$prefix:fhib:root") ++
            fhibPaths.map(p => s"$prefix:fhib:$p") ++
            multi._2.map(blk => s"$prefix:fhdb:${blk._1}")
        else Seq(s"$prefix:frhp", s"$prefix:fhdb")) ++ nameTree.blockNames ++
          (if (hugeIdx.nonEmpty)
            Seq(s"$prefix:hugebt", s"$prefix:hugebl") ++
              hugeIdx.indices.map(k => s"$prefix:hugeobj:$k")
          else Nil)
      def build(name: String, res: Resolve): Array[Byte] =
        name.drop(prefix.length + 1) match {
          case "frhp" => frhpBlock(res)
          case "fhdb" => fhdbBlock(res)
          case "fhib:root" => fhibBlock("root", res)
          case n if n.startsWith("fhib:") => fhibBlock(n.drop(5), res)
          case n if n.startsWith("fhdb:") => fhdbMultiBlock(n.drop(5), res)
          case "hugebt" => hugeBtBlock(res)
          case "hugebl" => hugeBlBlock(res)
          case h if h.startsWith("hugeobj:") => items(hugeIdx(h.drop(8).toInt))._2(res)
          case n if n == "bthd" || n.startsWith("btin:") || n.startsWith("btlf:") =>
            nameTree.build(name, res)
          case o => throw new IllegalStateException(s"unknown dense block $o")
        }
    }

    def dataspaceBytesV2(dims: Seq[Long],
        maxDims: Option[Seq[Long]] = None): Array[Byte] = {
      val b = new LeBuf
      b.u8(2).u8(dims.length).u8(if (maxDims.isDefined) 1 else 0) // version, rank, flags
      b.u8(if (dims.isEmpty) 0 else 1) // type: scalar / simple
      dims.foreach(b.u64)
      maxDims.foreach(_.foreach(b.u64)) // −1 = H5S_UNLIMITED
      b.bytes
    }

    def attrBytesV3(name: String, dtype: DType, dims: Seq[Long],
        data: Array[Byte]): Array[Byte] = {
      val nameB = name.getBytes("UTF-8") :+ 0.toByte
      val dtB = dtypeBytes(dtype)
      val dsB = dataspaceBytesV2(dims)
      val b = new LeBuf
      b.u8(3).u8(0) // version, flags (nothing shared)
      b.u16(nameB.length).u16(dtB.length).u16(dsB.length)
      b.u8(0) // name character set: ASCII
      b.raw(nameB).raw(dtB).raw(dsB).raw(data) // exact lengths, no padding
      b.bytes
    }

    /** Each dataset's attributes as (name, resolved v3 message body) — the
      * SAME bodies serve compact 0x000C messages and dense heap objects.
      * Built once per dataset (the closures are reused by the header gate,
      * the dense stores, and the block list).
      */
    val attrItemsByDs: Map[String, Seq[(String, Resolve => Array[Byte])]] =
      datasets.map { d =>
        d.name -> (d.strAttrs.map { case (an, s) =>
          val sb = s.getBytes("UTF-8") :+ 0.toByte
          an -> ((_: Resolve) => attrBytesV3(an, Str(sb.length), Nil, sb))
        } ++
          d.numAttrs.map { case (an, t, nums) =>
            an -> ((_: Resolve) => attrBytesV3(an, t, Seq(nums.length.toLong),
              encodeData(t, nums.toArray)))
          } ++
          d.refAttrs.map { case (an, lists) =>
            an -> ((res: Resolve) => {
              val data = new LeBuf
              lists.zipWithIndex.foreach { case (refs, i) =>
                data.u32(refs.length)
                data.u64(res("gcol"))
                data.u32(gcolIndex((d.name, an, i)))
              }
              attrBytesV3(an, Vlen(ObjRef), Seq(lists.length.toLong), data.bytes)
            })
          })
      }.toMap
    def attrItems(d: WDataset): Seq[(String, Resolve => Array[Byte])] =
      attrItemsByDs(d.name)

    lazy val rootDense = new DenseStore("rootdx", 5,
      if (denseIdLen > 0) denseIdLen else 7,
      memberNames.map(n => n -> ((res: Resolve) => linkMsgBytes(n, res))),
      denseNodeSize, denseHeapGeom, denseHeapFilter)
    lazy val attrDense: Map[String, DenseStore] = datasets
      .filter(d => attrItems(d).nonEmpty)
      .map(d => d.name -> new DenseStore(s"adx:${d.name}", 8,
        if (denseIdLen > 0) denseIdLen else 8, attrItems(d),
        denseNodeSize, denseHeapGeom, denseHeapFilter))
      .toMap

    // libhdf5's default page bits; fixtures stay below 2^10 chunks, so data
    // blocks only page when a dataset lowers the knob deliberately
    val fixedArrayPageBits = 10
    def faPb(d: WDataset): Int = d.faPageBits.getOrElse(fixedArrayPageBits)

    // Extensible-array creation parameters for fixtures: libhdf5's dataset
    // defaults except data-block min elements 4 (default 16) and super-block
    // min pointers 2 (default 4), so a fixture-sized chunk count outgrows
    // the index block's 2 direct pointers (16 elements) and reaches real
    // EASB super blocks; minPtrs ≠ minElmts also makes the header field
    // ORDER byte-testable (the two spec sections order them oppositely).
    val eaParams = EaGeometry(maxBits = 32, idxElmts = 4, minPtrs = 2,
      minElmts = 4, pageBits = 10)
    // pageBits shapes only the on-disk (un)paging of data blocks, never the
    // block geometry (EaGeometry's formulas don't consult it), so the
    // per-dataset override touches serialization sites only
    def eaPb(d: WDataset): Int = d.eaPageBits.getOrElse(eaParams.pageBits)

    def datasetOhV2(d: WDataset, res: Resolve): Array[Byte] = {
      val msgs = scala.collection.mutable.ArrayBuffer[(Int, Array[Byte])]()
      msgs += 0x0001 -> dataspaceBytesV2(d.dims, d.maxDims)
      msgs += 0x0003 -> dtypeBytes(d.dtype)
      locally { // fill value: v2 undefined, or v3 (alloc time early, has-value)
        val f = new LeBuf
        d.fillValue match {
          case None => f.u8(2).u8(1).u8(0).u8(0)
          case Some(v) => f.u8(3).u8(0x01 | 0x20).u32(d.dtype.size).raw(encodeData(d.dtype, Array(v)))
        }
        msgs += 0x0005 -> f.bytes
      }
      locally {
        val l = new LeBuf
        d.chunkDims match {
          case None =>
            l.u8(4).u8(1) // v4 contiguous — body identical to v3
            l.u64(res(s"data:${d.name}"))
            l.u64(d.data.length.toLong * d.dtype.size)
          case Some(cd) =>
            val cs = chunksOf(d)
            val single = cs.length == 1
            l.u8(4).u8(2) // v4 chunked
            l.u8(if (single && d.filters.nonEmpty) 0x02 else 0x00) // flags
            l.u8(cd.length + 1).u8(8) // dims incl. element-size entry, 8-byte enc
            cd.foreach(c => l.u64(c))
            l.u64(d.dtype.size)
            if (single) {
              l.u8(1) // Single Chunk index
              if (d.filters.nonEmpty) { l.u64(cs.head._2.length); l.u32(0) }
              l.u64(res(s"chunk:${d.name}:0"))
            } else if (d.implicitIndex) {
              l.u8(2) // Implicit index: chunk blocks are written back-to-back
              l.u64(res(s"chunk:${d.name}:0"))
            } else if (d.eaIndex) {
              // Extensible Array index — the LAYOUT-MESSAGE cparam order
              // (max bits, index elements, min POINTERS, min ELEMENTS, page
              // bits) differs from the EAHD's own field order; the reader
              // cross-checks the two
              l.u8(4)
              l.u8(eaParams.maxBits).u8(eaParams.idxElmts).u8(eaParams.minPtrs)
              l.u8(eaParams.minElmts).u8(eaPb(d))
              l.u64(res(s"eahd:${d.name}"))
            } else if (d.bt2NodeSize.isDefined) {
              l.u8(5) // v2 B-tree index: node size + split/merge percents
              l.u32(d.bt2NodeSize.get).u8(100).u8(40)
              l.u64(res(s"bt2:${d.name}:bthd"))
            } else {
              l.u8(3).u8(faPb(d)) // Fixed Array index
              l.u64(res(s"fahd:${d.name}"))
            }
        }
        msgs += 0x0008 -> l.bytes
      }
      if (d.filters.nonEmpty) {
        // v2 pipeline: registered ids carry no name, nothing is padded
        val f = new LeBuf
        f.u8(2).u8(d.filters.length)
        d.filters.foreach { flt =>
          val (id, cvals) = flt match {
            case Deflate(level) => (1, Seq(level.toLong))
            case Shuffle(esz) => (2, Seq(esz.toLong))
            case Fletcher32 => (3, Nil)
          }
          f.u16(id).u16(0).u16(cvals.length)
          cvals.foreach(f.u32)
        }
        msgs += 0x000B -> f.bytes
      }
      if (denseAttrs && attrItems(d).nonEmpty) {
        // attributes live in the per-dataset fractal heap + name b-tree;
        // the header carries only the Attribute Info pointer
        val ai = new LeBuf
        ai.u8(0).u8(0) // version, flags (creation order untracked)
        ai.u64(res(s"adx:${d.name}:frhp")).u64(res(s"adx:${d.name}:bthd"))
        msgs += 0x0015 -> ai.bytes
      } else attrItems(d).foreach { case (_, body) => msgs += 0x000C -> body(res) }
      objectHeaderV2(msgs.toSeq)
    }

    /** Raw (pre-filter) bytes of one chunk — what sizes the stored-size
      * field width in FA/EA elements and v2-b-tree records.
      */
    def rawChunkBytes(d: WDataset): Long =
      d.chunkDims.get.map(_.toLong).product * d.dtype.size
    /** FA/EA on-disk element size: the address, plus for FILTERED clients
      * the stored size in libhdf5's [[chunkSizeLen]] width (NOT a fixed 8 —
      * one byte more than the raw chunk size needs, capped at 8) and the
      * 4-byte filter mask.
      */
    def chunkElmtSize(d: WDataset): Int =
      if (d.filters.nonEmpty) 8 + chunkSizeLen(rawChunkBytes(d)) + 4 else 8
    /** One FA/EA/EAIB element: chunk address [+ stored size + mask], or the
      * undefined pattern for a never-written slot.
      */
    def chunkElement(b: LeBuf, d: WDataset, i: Long, res: Resolve): Unit = {
      val cs = chunksOf(d)
      val csl = chunkSizeLen(rawChunkBytes(d))
      if (i < cs.length && !d.sparseChunks(i.toInt)) {
        b.u64(res(s"chunk:${d.name}:$i"))
        if (d.filters.nonEmpty) { b.uvar(cs(i.toInt)._2.length, csl); b.u32(0) }
      } else {
        b.u64(-1L)
        if (d.filters.nonEmpty) { b.uvar(0, csl); b.u32(0) }
      }
    }

    def fahdBlock(d: WDataset, res: Resolve): Array[Byte] = {
      val client = if (d.filters.nonEmpty) 1 else 0
      val b = new LeBuf
      b.raw("FAHD".getBytes).u8(0).u8(client)
      b.u8(chunkElmtSize(d)).u8(faPb(d))
      b.u64(chunksOf(d).length)
      b.u64(res(s"fadb:${d.name}"))
      u32ck(b)
    }

    def fadbBlock(d: WDataset, res: Resolve): Array[Byte] = {
      val client = if (d.filters.nonEmpty) 1 else 0
      val b = new LeBuf
      b.raw("FADB".getBytes).u8(0).u8(client)
      b.u64(res(s"fahd:${d.name}"))
      val n = chunksOf(d).length
      val pageSize = 1 << faPb(d)
      if (n <= pageSize) {
        (0 until n).foreach(i => chunkElement(b, d, i.toLong, res))
        u32ck(b)
      } else {
        // paged: header keeps only the page-init bitmap (MSB-first per byte,
        // H5VM order) and a header-only checksum; pages follow, each
        // elements + own checksum, uninitialized pages zero-filled space
        val npages = (n + pageSize - 1) / pageSize
        def pageInit(p: Int): Boolean =
          (p * pageSize until math.min(n, (p + 1) * pageSize))
            .exists(i => !d.sparseChunks(i))
        val bm = new Array[Byte]((npages + 7) / 8)
        (0 until npages).foreach { p =>
          if (pageInit(p)) bm(p / 8) = (bm(p / 8) | (1 << (7 - p % 8))).toByte
        }
        b.raw(bm)
        u32ck(b)
        (0 until npages).foreach { p =>
          val pe = math.min(pageSize, n - p * pageSize)
          if (pageInit(p)) {
            val pb = new LeBuf
            (0 until pe).foreach(j => chunkElement(pb, d, (p * pageSize + j).toLong, res))
            b.raw(u32ck(pb))
          } else b.raw(new Array[Byte](pe * chunkElmtSize(d) + 4))
        }
        b.bytes
      }
    }

    /** Which super blocks (beyond the direct pointers) and which GLOBAL
      * data blocks an EA-indexed dataset's chunk count touches.
      */
    def eaUsed(d: WDataset): (Seq[Int], Seq[Long]) = {
      val n = chunksOf(d).length.toLong
      val pairs = (eaParams.idxElmts.toLong until n)
        .filterNot(i => d.sparseChunks(i.toInt)) // all-sparse blocks: never created
        .map(i => { val (u, di, _) = eaParams.locate(i); (u, di) }).distinct
      val sblksUsed = pairs.map(_._1).filter(_ >= eaParams.nsblksDirect).distinct.sorted
      val dblksUsed = pairs.map { case (u, di) => eaParams.sblks(u)._4 + di }.sorted
      (sblksUsed, dblksUsed)
    }
    /** Global data-block index → (super block, index within it). */
    def eaDblkHome(g: Long): (Int, Int) = {
      val u = eaParams.sblks.lastIndexWhere(_._4 <= g)
      (u, (g - eaParams.sblks(u)._4).toInt)
    }

    def eahdBlock(d: WDataset, res: Resolve): Array[Byte] = {
      val client = if (d.filters.nonEmpty) 1 else 0
      val n = chunksOf(d).length.toLong
      val (sblksUsed, dblksUsed) = eaUsed(d)
      val sblkBytes = sblksUsed.map { u =>
        val (nd, ne, _, _) = eaParams.sblks(u)
        // paged super blocks carry the page-init bitmap for their data
        // blocks' pages — keep the statistic equal to the bytes easbBlock
        // actually writes
        val pageSize = 1L << eaPb(d)
        val bmBytes = if (ne > pageSize) (nd * (ne / pageSize) + 7) / 8 else 0
        (14 + eaParams.arrOffSize + bmBytes + nd * 8 + 4).toLong
      }.sum
      val dblkBytes = dblksUsed.map { g =>
        val (u, _) = eaDblkHome(g)
        val ne = eaParams.sblks(u)._2
        val pageSize = 1L << eaPb(d)
        if (ne <= pageSize) 14 + eaParams.arrOffSize + ne * chunkElmtSize(d) + 4
        else 14 + eaParams.arrOffSize + 4 + // header-only checksum when paged
          (ne / pageSize) * (pageSize * chunkElmtSize(d) + 4)
      }.sum
      val b = new LeBuf
      b.raw("EAHD".getBytes).u8(0).u8(client)
      // EAHD cparam order (its own spec section): element size, max bits,
      // index elements, min ELEMENTS, min POINTERS, page bits — note the
      // minElmts/minPtrs order is the REVERSE of the layout message's
      b.u8(chunkElmtSize(d)).u8(eaParams.maxBits).u8(eaParams.idxElmts)
      b.u8(eaParams.minElmts).u8(eaParams.minPtrs).u8(eaPb(d))
      b.u64(sblksUsed.length) // statistics: super blocks created
      b.u64(sblkBytes)
      b.u64(dblksUsed.length)
      b.u64(dblkBytes)
      b.u64(n) // max index set
      b.u64(n) // elements realized
      b.u64(res(s"eaib:${d.name}"))
      u32ck(b)
    }

    def eaibBlock(d: WDataset, res: Resolve): Array[Byte] = {
      val client = if (d.filters.nonEmpty) 1 else 0
      val (_, dblksUsed) = eaUsed(d)
      val used = dblksUsed.toSet
      val b = new LeBuf
      b.raw("EAIB".getBytes).u8(0).u8(client)
      b.u64(res(s"eahd:${d.name}"))
      (0 until eaParams.idxElmts).foreach(i => chunkElement(b, d, i, res))
      // direct data-block pointers (super blocks 0 .. nsblksDirect−1)
      (0L until eaParams.ndblkAddrs).foreach { g =>
        b.u64(if (used(g)) res(s"eadb:${d.name}:$g") else -1L)
      }
      // super-block pointers
      (0 until eaParams.nsblkAddrs).foreach { k =>
        val u = eaParams.nsblksDirect + k
        b.u64(if (eaUsed(d)._1.contains(u)) res(s"easb:${d.name}:$u") else -1L)
      }
      u32ck(b)
    }

    /** Is any chunk in element range [from, until) allocated? (EA array
      * index = chunk-grid index, inline elements included.)
      */
    def eaRangeLive(d: WDataset, from: Long, until: Long): Boolean = {
      val n = chunksOf(d).length.toLong
      (from until math.min(n, until)).exists(i => !d.sparseChunks(i.toInt))
    }

    def easbBlock(d: WDataset, u: Int, res: Resolve): Array[Byte] = {
      val client = if (d.filters.nonEmpty) 1 else 0
      val (nd, ne, start, startDblk) = eaParams.sblks(u)
      val (_, dblksUsed) = eaUsed(d)
      val used = dblksUsed.toSet
      val b = new LeBuf
      b.raw("EASB".getBytes).u8(0).u8(client)
      b.u64(res(s"eahd:${d.name}"))
      b.uvar(eaParams.idxElmts + start, eaParams.arrOffSize)
      val pageSize = 1L << eaPb(d)
      if (ne > pageSize) {
        // this super block's data blocks page: the page-init bitmap lives
        // HERE (dblock-major, MSB-first per byte), before the addresses
        val npg = (ne / pageSize).toInt
        val bm = new Array[Byte]((nd * npg + 7) / 8)
        for (j <- 0 until nd; p <- 0 until npg) {
          val base = eaParams.idxElmts + start + j * ne + p * pageSize
          if (used(startDblk + j) && eaRangeLive(d, base, base + pageSize)) {
            val bit = j * npg + p
            bm(bit / 8) = (bm(bit / 8) | (1 << (7 - bit % 8))).toByte
          }
        }
        b.raw(bm)
      }
      (0 until nd).foreach { j =>
        val g = startDblk + j
        b.u64(if (used(g)) res(s"eadb:${d.name}:$g") else -1L)
      }
      u32ck(b)
    }

    def eadbBlock(d: WDataset, g: Long, res: Resolve): Array[Byte] = {
      val client = if (d.filters.nonEmpty) 1 else 0
      val (u, di) = eaDblkHome(g)
      val (_, ne, start, _) = eaParams.sblks(u)
      val base = eaParams.idxElmts + start + di * ne
      val b = new LeBuf
      b.raw("EADB".getBytes).u8(0).u8(client)
      b.u64(res(s"eahd:${d.name}"))
      b.uvar(base, eaParams.arrOffSize)
      val pageSize = 1L << eaPb(d)
      if (ne <= pageSize) {
        (0L until ne).foreach(j => chunkElement(b, d, base + j, res))
        u32ck(b)
      } else {
        require(u >= eaParams.nsblksDirect,
          s"writer: paged data block in the index-block direct region (super block $u)")
        // paged: header-only checksum; element pages follow, each with its
        // own checksum, uninitialized pages zero-filled space
        u32ck(b)
        val npg = (ne / pageSize).toInt
        (0 until npg).foreach { p =>
          val pBase = base + p * pageSize
          if (eaRangeLive(d, pBase, pBase + pageSize)) {
            val pb = new LeBuf
            (0L until pageSize).foreach(j => chunkElement(pb, d, pBase + j, res))
            b.raw(u32ck(pb))
          } else b.raw(new Array[Byte](pageSize.toInt * chunkElmtSize(d) + 4))
        }
        b.bytes
      }
    }

    /** v2-b-tree CHUNK indexes: the generic tree writer over records in
      * scaled-offset (= row-major chunk-grid) order — type 10 (address +
      * scaled offsets) unfiltered, type 11 (+ stored size + mask) filtered.
      */
    lazy val bt2Trees: Map[String, V2TreeWriter] = datasets
      .filter(d => d.bt2NodeSize.isDefined && d.chunkDims.isDefined &&
        chunksOf(d).length > 1)
      .map { d =>
        val cd = d.chunkDims.get
        val filtered = d.filters.nonEmpty
        val csl = chunkSizeLen(rawChunkBytes(d))
        val recSize = 8 + (if (filtered) csl + 4 else 0) + 8 * cd.length
        d.name -> new V2TreeWriter(s"bt2:${d.name}",
          if (filtered) 11 else 10, d.bt2NodeSize.get, recSize,
          chunksOf(d).length, (i, res) => {
            val (off, bytes) = chunksOf(d)(i)
            val b = new LeBuf
            b.u64(res(s"chunk:${d.name}:$i"))
            if (filtered) { b.uvar(bytes.length, csl); b.u32(0) }
            off.zip(cd).foreach { case (o, c) => b.u64(o / c) }
            b.bytes
          })
      }.toMap

    // ---- assemble: block order fixes every address
    val blockNames: Seq[String] =
      if (latest)
        Seq("oh:/") ++
          (if (denseRoot) rootDense.blockNames else Nil) ++
          datasets.map(d => s"oh:${d.name}") ++
          (if (denseAttrs) datasets.filter(d => attrItems(d).nonEmpty)
            .flatMap(d => attrDense(d.name).blockNames) else Nil) ++
          (if (gcolEntries.nonEmpty) Seq("gcol") else Nil) ++
          datasets.flatMap { d =>
            d.chunkDims match {
              case None => Seq(s"data:${d.name}")
              case Some(_) =>
                if (d.sparseChunks.nonEmpty)
                  require(!d.implicitIndex && d.bt2NodeSize.isEmpty &&
                    chunksOf(d).length > 1,
                    s"${d.name}: sparseChunks supported only for FA/EA chunk indexes")
                // sparse slots keep their grid position (Undef elements) but
                // have no payload block to emit
                val cs = chunksOf(d).indices.filterNot(d.sparseChunks)
                  .map(i => s"chunk:${d.name}:$i")
                if (chunksOf(d).length == 1 || d.implicitIndex) cs
                else if (d.eaIndex) {
                  val (sblksUsed, dblksUsed) = eaUsed(d)
                  Seq(s"eahd:${d.name}", s"eaib:${d.name}") ++
                    sblksUsed.map(u => s"easb:${d.name}:$u") ++
                    dblksUsed.map(g => s"eadb:${d.name}:$g") ++ cs
                } else if (d.bt2NodeSize.isDefined)
                  bt2Trees(d.name).blockNames ++ cs
                else Seq(s"fahd:${d.name}", s"fadb:${d.name}") ++ cs
            }
          }
      else
        Seq("oh:/", "heap", "heapdata", "btree") ++
          (0 until gtreeLevels.length - 1).flatMap(l =>
            (0 until gtreeLevels(l)).map(j => s"gbt:$l:$j")) ++
          nameGroups.indices.map(j => s"snod:$j") ++
          datasets.map(d => s"oh:${d.name}") ++
          (if (gcolEntries.nonEmpty) Seq("gcol") else Nil) ++
          datasets.flatMap { d =>
            require(d.sparseChunks.isEmpty,
              s"${d.name}: sparseChunks supported only for FA/EA chunk indexes")
            if (d.chunkDims.isDefined) {
              val counts = chunkTreeLevels(d)
              val leaves =
                if (counts.length > 1)
                  (0 until counts(0)).map(j => s"chunkleaf:${d.name}:$j")
                else Nil
              // internal levels below the root (the root is chunkbt:)
              val internals = (1 until counts.length - 1).flatMap(l =>
                (0 until counts(l)).map(j => s"chunkint:${d.name}:$l:$j"))
              Seq(s"chunkbt:${d.name}") ++ leaves ++ internals ++
                chunksOf(d).indices.map(i => s"chunk:${d.name}:$i")
            } else Seq(s"data:${d.name}")
          }

    def buildBlock(name: String, res: Resolve): Array[Byte] = name match {
      case "oh:/" => if (latest) rootOhV2(res) else rootOh(res)
      case n if n.startsWith("rootdx:") => rootDense.build(n, res)
      case n if n.startsWith("adx:") =>
        // "adx:<ds>:<kind>"; <ds> may hold ':' and <kind> may be "btlf:<j>",
        // so match the known kind suffixes greedily instead of splitting on
        // the last colon
        val kind = ("(:(?:frhp|fhdb(?::[0-9./]+)?|fhib:(?:root|[0-9./]+)|bthd|" +
          "btin:\\d+:\\d+|btlf:\\d+|hugebt|hugebl|hugeobj:\\d+))$").r
          .findFirstIn(n).getOrElse(
            throw new IllegalStateException(s"unparseable dense block $n"))
        attrDense(n.substring(4, n.length - kind.length)).build(n, res)
      case "heap" => heapBlock(res)
      case "heapdata" => heapData.bytes
      case "btree" => btreeBlock(res)
      case n if n.startsWith("gbt:") => // "gbt:<level>:<j>"
        val Array(_, l, j) = n.split(":")
        gtreeNode(l.toInt, j.toInt, res)
      case n if n.startsWith("snod:") => snodBlock(n.drop(5).toInt, res)
      case "gcol" => gcolBlock(res)
      case n if n.startsWith("oh:") =>
        val d = datasets.find(_.name == n.drop(3)).get
        if (latest) datasetOhV2(d, res) else datasetOh(d, res)
      case n if n.startsWith("chunkbt:") =>
        chunkBtree(datasets.find(_.name == n.drop(8)).get, res)
      case n if n.startsWith("chunkleaf:") => // "chunkleaf:<ds>:<j>"
        val cut = n.lastIndexOf(':')
        chunkLeafNode(datasets.find(_.name == n.substring(10, cut)).get,
          n.substring(cut + 1).toInt, res)
      case n if n.startsWith("chunkint:") => // "chunkint:<ds>:<level>:<j>"
        val cutJ = n.lastIndexOf(':')
        val cutL = n.lastIndexOf(':', cutJ - 1)
        chunkInternalNode(datasets.find(_.name == n.substring(9, cutL)).get,
          n.substring(cutL + 1, cutJ).toInt, n.substring(cutJ + 1).toInt, res)
      case n if n.startsWith("fahd:") =>
        fahdBlock(datasets.find(_.name == n.drop(5)).get, res)
      case n if n.startsWith("fadb:") =>
        fadbBlock(datasets.find(_.name == n.drop(5)).get, res)
      case n if n.startsWith("eahd:") =>
        eahdBlock(datasets.find(_.name == n.drop(5)).get, res)
      case n if n.startsWith("eaib:") =>
        eaibBlock(datasets.find(_.name == n.drop(5)).get, res)
      case n if n.startsWith("easb:") => // "easb:<ds>:<u>"
        val cut = n.lastIndexOf(':')
        easbBlock(datasets.find(_.name == n.substring(5, cut)).get,
          n.substring(cut + 1).toInt, res)
      case n if n.startsWith("eadb:") => // "eadb:<ds>:<g>"
        val cut = n.lastIndexOf(':')
        eadbBlock(datasets.find(_.name == n.substring(5, cut)).get,
          n.substring(cut + 1).toLong, res)
      case n if n.startsWith("bt2:") => // "bt2:<ds>:<bthd|btin:d:j|btlf:j>"
        val kind = "(:(?:bthd|btin:\\d+:\\d+|btlf:\\d+))$".r.findFirstIn(n)
          .getOrElse(throw new IllegalStateException(s"unparseable bt2 block $n"))
        bt2Trees(n.substring(4, n.length - kind.length)).build(n, res)
      case n if n.startsWith("chunk:") =>
        val Array(_, dn, i) = n.split(":")
        chunksOf(datasets.find(_.name == dn).get)(i.toInt)._2
      case n if n.startsWith("data:") =>
        val d = datasets.find(_.name == n.drop(5)).get
        encodeData(d.dtype, d.data)
      case n => throw new IllegalStateException(s"unknown block $n")
    }

    // pass 1: sizes with zero addresses → offsets; pass 2: real bytes
    // (checksums change between passes, their 4-byte width does not)
    val zero: Resolve = _ => 0L
    var off = if (latest) 48L else if (sbV1) 100L else 96L
    val offsets = scala.collection.mutable.Map[String, Long]()
    blockNames.foreach { n =>
      offsets(n) = off
      off += buildBlock(n, zero).length
    }
    val eof = off
    val res: Resolve = {
      case "eof" => eof
      case n => offsets(n)
    }
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path)))
    try {
      out.write(if (latest) superblockV3(res) else superblock(res))
      blockNames.foreach { n =>
        val b = buildBlock(n, res)
        require(b.length == (buildBlock(n, zero)).length,
          s"block $n changed size between passes")
        out.write(b)
      }
    } finally out.close()
  }
}
