package graft.sources

import java.io.Closeable
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.Inflater
import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}

import graft.core.Geometry.Shape3
import graft.core.Voxels

/** Minimal HDF5 reader for the Imaris subset (SURVEY §7.4).
  *
  * Scope — what Imaris/.ims files written by libhdf5 use (reference
  * access layer: `utils/io_utils.py`, paths at `:43`). The reference
  * reads anything h5py reads; this covers the layouts libhdf5 emits
  * across its `libver` range:
  *  - superblocks v0/v1 (symbol-table root) and v2/v3 (root object
  *    header direct, as written under `libver='latest'`/SWMR);
  *  - v1 object headers (+ continuations) and v2 `OHDR` headers
  *    (+ `OCHK` continuation blocks, tracked-order variants);
  *  - old-style symbol-table groups (local heap + B-tree v1 + SNOD),
  *    new-style compact groups (Link messages), and DENSE groups —
  *    links in a fractal heap indexed by a type-5 v2 B-tree, which
  *    libhdf5 uses above 8 links/group;
  *  - DENSE attributes (fractal heap + type-8 v2 B-tree) — reachable
  *    for real `libver='latest'` Imaris files, whose Image group
  *    carries 10 attributes;
  *  - dataset layouts: chunked (B-tree v1 index; layout msg v3 and
  *    v4 with Single-Chunk, Implicit, Fixed-Array, Extensible-Array,
  *    and v2-B-tree indexes — the full v4 index set libhdf5 picks
  *    across maxshape choices), contiguous, and compact;
  *  - filters deflate(1) / shuffle(2) / lz4(32004), the shuffle first in
  *    the pipeline as libhdf5 writers place it;
  *  - byte-string attributes, message versions 1/2/3
  *    (`io_utils.py:462-466` decodes with `.tobytes()`).
  * Anything outside the subset fails loudly. v2-header checksums are
  * not verified (integrity is covered by the filter length checks).
  *
  * I/O goes through Hadoop `FileSystem`, so `file://` and `s3a://`
  * sources both work; positioned reads (`readFully`) are thread-safe per
  * open stream. One `Hdf5Reader` is opened per executor task
  * (cf. `ImarisReader` per worker, `io_utils.py:45-47`) — handles are
  * NOT serialized into the Spark plan.
  */
final class Hdf5Reader(val path: String, conf: Configuration) extends Closeable {
  import Hdf5Reader._

  // raw local FS: bypass ChecksumFileSystem's 512-byte-chunk read path
  // (pure syscall overhead — the .ims carries no .crc sidecar anyway)
  private val hPath = new Path(path)
  private val fs: FileSystem = graft.sinks.ZarrV3.rawFs(hPath, conf)
  private val fileLen: Long = fs.getFileStatus(hPath).getLen
  private val in: FSDataInputStream = fs.open(hPath)

  def this(path: String) = this(path, new Configuration())

  override def close(): Unit = in.close()

  private def readAt(pos: Long, len: Int): ByteBuffer = {
    val buf = new Array[Byte](len)
    in.readFully(pos, buf)
    ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
  }

  // ---- superblock ---------------------------------------------------------

  private val rootObjectHeader: Long = {
    val sb = readAt(0L, 96)
    val sig = new Array[Byte](8); sb.get(sig)
    require(sig.sameElements(Signature), s"$path: not an HDF5 file")
    val version = sb.get(8) & 0xff
    version match {
      case 0 | 1 =>
        require((sb.get(13) & 0xff) == 8, "sizeof(offsets) must be 8")
        require((sb.get(14) & 0xff) == 8, "sizeof(lengths) must be 8")
        // v1 inserts 4 bytes (indexed-storage K + reserved) before the
        // address block; root symbol-table entry follows the 4 addresses,
        // object header addr at STE+8
        val ste = if (version == 0) 56 else 60
        sb.getLong(ste + 8)
      case 2 | 3 =>
        // v2/v3: sig(8) ver(1) szoff(1) szlen(1) flags(1) base(8) ext(8)
        // eof(8) rootOH(8) checksum(4)
        require((sb.get(9) & 0xff) == 8, "sizeof(offsets) must be 8")
        require((sb.get(10) & 0xff) == 8, "sizeof(lengths) must be 8")
        sb.getLong(36)
      case other =>
        sys.error(s"$path: unsupported superblock version $other")
    }
  }

  // ---- object headers (v1 + v2) -------------------------------------------

  private case class Header(messages: Seq[(Int, Array[Byte])])

  private def readObjectHeader(addr: Long): Header = {
    val first = readAt(addr, 4)
    val sig4 = new Array[Byte](4); first.get(sig4)
    if (sig4.sameElements("OHDR".getBytes("ASCII"))) readObjectHeaderV2(addr)
    else readObjectHeaderV1(addr)
  }

  private def readObjectHeaderV1(addr: Long): Header = {
    val pre = readAt(addr, 16)
    val version = pre.get(0) & 0xff
    require(version == 1, s"$path @$addr: unsupported object header version $version")
    val nmsgs = pre.getShort(2) & 0xffff
    val size = pre.getInt(8)
    val msgs = mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    // blocks: (address, length) of message data; first block starts at +16
    var blocks = List((addr + 16, size.toLong))
    while (msgs.size < nmsgs && blocks.nonEmpty) {
      val (bAddr, bLen) = blocks.head
      blocks = blocks.tail
      val bb = readAt(bAddr, bLen.toInt)
      while (msgs.size < nmsgs && bb.remaining() >= 8) {
        val mtype = bb.getShort() & 0xffff
        val msize = bb.getShort() & 0xffff
        bb.get(); bb.get(); bb.get(); bb.get() // flags + reserved
        val body = new Array[Byte](msize)
        if (bb.remaining() < msize) { bb.position(bb.limit()) }
        else {
          bb.get(body)
          if (mtype == MsgContinuation) {
            val cb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
            blocks = (cb.getLong(), cb.getLong()) :: blocks
          } else if (mtype != MsgNil) msgs += ((mtype, body))
        }
      }
    }
    Header(msgs.toSeq)
  }

  /** Version-2 object header (`OHDR` + `OCHK` continuations), as written
    * by libhdf5 under `libver='latest'`. Checksums are not verified.
    */
  private def readObjectHeaderV2(addr: Long): Header = {
    val pre = readAt(addr, 16)
    require((pre.get(4) & 0xff) == 2, s"$path @$addr: bad OHDR version")
    val flags = pre.get(5) & 0xff
    var pos = addr + 6
    if ((flags & 0x20) != 0) pos += 16 // access/mod/change/birth times
    if ((flags & 0x10) != 0) pos += 4  // max-compact / min-dense
    val szLen = 1 << (flags & 3)
    val chunk0Size = readAt(pos, szLen) match {
      case b if szLen == 1 => b.get(0) & 0xffL
      case b if szLen == 2 => b.getShort(0) & 0xffffL
      case b if szLen == 4 => b.getInt(0) & 0xffffffffL
      case b               => b.getLong(0)
    }
    pos += szLen
    val withCOrder = (flags & 0x04) != 0
    val msgs = mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    // (block message-bytes start, message-bytes length); checksum follows
    var blocks = List((pos, chunk0Size))
    while (blocks.nonEmpty) {
      val (bAddr, bLen) = blocks.head
      blocks = blocks.tail
      val bb = readAt(bAddr, bLen.toInt)
      val headLen = if (withCOrder) 6 else 4
      while (bb.remaining() >= headLen) {
        val mtype = bb.get() & 0xff
        val msize = bb.getShort() & 0xffff
        bb.get() // message flags
        if (withCOrder) bb.getShort() // creation order
        if (bb.remaining() < msize) { bb.position(bb.limit()) }
        else {
          val body = new Array[Byte](msize)
          bb.get(body)
          if (mtype == MsgContinuation) {
            val cb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
            val cAddr = cb.getLong(); val cLen = cb.getLong()
            // continuation block = "OCHK" sig + messages + checksum(4)
            val cSig = new Array[Byte](4); readAt(cAddr, 4).get(cSig)
            require(cSig.sameElements("OCHK".getBytes("ASCII")),
              s"$path @$cAddr: bad OCHK continuation")
            blocks = (cAddr + 4, cLen - 8) :: blocks
          } else if (mtype != MsgNil) msgs += ((mtype, body))
        }
      }
    }
    Header(msgs.toSeq)
  }

  // ---- groups: symbol-table traversal ------------------------------------

  /** Children of a group object header: name -> child object header addr.
    * Old-style groups carry a symbol-table message; new-style compact
    * groups carry one Link message per child. Dense groups (links in a
    * fractal heap, used by libhdf5 only above ~8 links/group) are out of
    * subset and fail loudly.
    */
  private def groupChildren(ohAddr: Long): Map[String, Long] = {
    val h = readObjectHeader(ohAddr)
    h.messages.find(_._1 == MsgSymbolTable) match {
      case Some((_, body)) =>
        val bb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
        val btree = bb.getLong(); val heap = bb.getLong()
        val heapData = localHeapDataAddr(heap)
        val out = mutable.Map.empty[String, Long]
        walkGroupBtree(btree, heapData, out)
        out.toMap
      case None =>
        // dense storage: >8 links move into a fractal heap indexed by a
        // name v2 B-tree (libhdf5 H5G__dense_*); walk every B-tree record
        // and fetch each link message from the heap
        val dense = h.messages.find(_._1 == MsgLinkInfo).toSeq.flatMap { case (_, body) =>
          val bb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
          val flags = bb.get(1) & 0xff
          val fheapPos = 2 + (if ((flags & 1) != 0) 8 else 0)
          val fheap = bb.getLong(fheapPos)
          val nameBt = bb.getLong(fheapPos + 8)
          if (fheap == Undef) Seq.empty
          else {
            val heap = fractalHeap(fheap)
            // type-5 record: name hash (4) + 7-byte managed heap ID
            denseBtreeRecords(nameBt, expectedType = 5)
              .map(rec => heap(java.util.Arrays.copyOfRange(rec, 4, rec.length)))
              .flatMap(linkBody => parseLink(ohAddr, linkBody))
          }
        }
        val compact = h.messages.collect { case (MsgLink, body) => parseLink(ohAddr, body) }
          .collect { case Some(kv) => kv }
        (compact ++ dense).toMap
    }
  }

  // ---- fractal heap + v2 B-tree (dense links / dense attributes) ----------

  /** Managed-object accessor over a fractal heap (spec III.G): returns
    * heapId bytes → object bytes. Subset: managed objects only, direct
    * root block or ONE level of indirect block (direct children only),
    * no I/O filters on blocks — libhdf5's dense link/attribute heaps for
    * any realistic group stay well inside this; anything else fails
    * loudly.
    */
  private def fractalHeap(frhpAddr: Long): Array[Byte] => Array[Byte] = {
    val hb = readAt(frhpAddr, 142)
    val sig = new Array[Byte](4); hb.get(sig)
    require(new String(sig, "ASCII") == "FRHP", s"$path @$frhpAddr: bad fractal heap")
    val heapIdLen = hb.getShort(5) & 0xffff
    val ioFilterLen = hb.getShort(7) & 0xffff
    require(ioFilterLen == 0,
      s"$path @$frhpAddr: filtered fractal-heap blocks are outside the subset")
    val flags = hb.get(9) & 0xff
    val tableWidth = hb.getShort(110) & 0xffff
    val startBlockSize = hb.getLong(112)
    val maxDirectSize = hb.getLong(120)
    val maxHeapBits = hb.getShort(128) & 0xffff
    val rootAddr = hb.getLong(132)
    val curRows = hb.getShort(140) & 0xffff
    val offsetSize = (maxHeapBits + 7) / 8
    val lengthSize = heapIdLen - 1 - offsetSize
    require(offsetSize >= 1 && offsetSize <= 8 && lengthSize >= 1 && lengthSize <= 8,
      s"$path @$frhpAddr: implausible heap id layout (idLen=$heapIdLen, offBits=$maxHeapBits)")
    // header flags: bit 1 = checksum direct blocks (checksum sits at the
    // END of each block, so object offsets are unaffected); bit 0 =
    // huge-ID wrap — both irrelevant for managed-object reads
    val _ = flags

    def leNum(bb: ByteBuffer, n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v |= (bb.get() & 0xffL) << (8 * i); i += 1 }
      v
    }

    /** heap-space offset of a direct block, from its own FHDB header. */
    def directBlockOffset(addr: Long): Long = {
      val db = readAt(addr, 13 + offsetSize)
      val s = new Array[Byte](4); db.get(s)
      require(new String(s, "ASCII") == "FHDB", s"$path @$addr: bad heap direct block")
      db.position(13) // sig(4) ver(1) heapHdr(8)
      leNum(db, offsetSize)
    }

    val maxDirectRows =
      (63 - java.lang.Long.numberOfLeadingZeros(maxDirectSize)) -
        (63 - java.lang.Long.numberOfLeadingZeros(startBlockSize)) + 2
    val directBlocks: Seq[(Long, Long)] = // (heapOffset, fileAddr)
      if (rootAddr == Undef) Seq.empty
      else if (curRows == 0) Seq((directBlockOffset(rootAddr), rootAddr))
      else {
        require(curRows <= maxDirectRows,
          s"$path @$frhpAddr: nested indirect heap blocks are outside the subset " +
            s"($curRows rows > $maxDirectRows direct rows)")
        val ib = readAt(rootAddr, 13 + offsetSize + curRows * tableWidth * 8)
        val s = new Array[Byte](4); ib.get(s)
        require(new String(s, "ASCII") == "FHIB", s"$path @$rootAddr: bad heap indirect block")
        ib.position(13 + offsetSize)
        (0 until curRows * tableWidth).map(_ => ib.getLong())
          .filter(_ != Undef)
          .map(a => (directBlockOffset(a), a))
      }
    val sorted = directBlocks.sortBy(_._1)

    (heapId: Array[Byte]) => {
      require(heapId.length == heapIdLen,
        s"$path: heap id length ${heapId.length}, expected $heapIdLen")
      val idType = (heapId(0) >> 4) & 0x3
      require(idType == 0, s"$path: only MANAGED fractal-heap objects in subset (type $idType)")
      val idb = ByteBuffer.wrap(heapId, 1, heapId.length - 1).order(ByteOrder.LITTLE_ENDIAN)
      val off = leNum(idb, offsetSize)
      val len = leNum(idb, lengthSize)
      val block = sorted.takeWhile(_._1 <= off).lastOption.getOrElse(
        sys.error(s"$path: heap offset $off outside any direct block"))
      val buf = new Array[Byte](len.toInt)
      in.readFully(block._2 + (off - block._1), buf)
      buf
    }
  }

  /** All records of a version-2 B-tree (spec III.A.2). Subset: depth 0
    * (root is the single leaf) — a dense link/attr index for even
    * hundreds of entries fits one leaf node; deeper trees fail loudly.
    */
  private def denseBtreeRecords(btAddr: Long, expectedType: Int): Seq[Array[Byte]] = {
    val hb = readAt(btAddr, 38)
    val sig = new Array[Byte](4); hb.get(sig)
    require(new String(sig, "ASCII") == "BTHD", s"$path @$btAddr: bad v2 btree header")
    val btype = hb.get(5) & 0xff
    require(btype == expectedType,
      s"$path @$btAddr: v2 btree type $btype, expected $expectedType")
    val recSize = hb.getShort(10) & 0xffff
    val depth = hb.getShort(12) & 0xffff
    require(depth == 0,
      s"$path @$btAddr: multi-level v2 btrees are outside the subset (depth $depth)")
    val rootAddr = hb.getLong(16)
    val nRec = hb.getShort(24) & 0xffff
    if (rootAddr == Undef || nRec == 0) return Seq.empty
    val lb = readAt(rootAddr, 6 + nRec * recSize)
    val ls = new Array[Byte](4); lb.get(ls)
    require(new String(ls, "ASCII") == "BTLF", s"$path @$rootAddr: bad v2 btree leaf")
    (0 until nRec).map { i =>
      val rec = new Array[Byte](recSize)
      lb.position(6 + i * recSize)
      lb.get(rec)
      rec
    }
  }

  /** Hard Link message → (name, object header addr). Soft/external links
    * never occur in Imaris trees and fail loudly.
    */
  private def parseLink(ohAddr: Long, body: Array[Byte]): Option[(String, Long)] = {
    val bb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val ver = bb.get() & 0xff
    require(ver == 1, s"$path @$ohAddr: unsupported link message version $ver")
    val flags = bb.get() & 0xff
    val linkType = if ((flags & 0x08) != 0) bb.get() & 0xff else 0
    require(linkType == 0,
      s"$path @$ohAddr: only hard links are in the Imaris subset (type $linkType)")
    if ((flags & 0x04) != 0) bb.getLong() // creation order
    if ((flags & 0x10) != 0) bb.get()     // charset
    val nameLen = (1 << (flags & 3)) match {
      case 1 => bb.get() & 0xffL
      case 2 => bb.getShort() & 0xffffL
      case 4 => bb.getInt() & 0xffffffffL
      case _ => bb.getLong()
    }
    val name = new Array[Byte](nameLen.toInt)
    bb.get(name)
    Some((new String(name, "UTF-8"), bb.getLong()))
  }

  private def localHeapDataAddr(heapAddr: Long): Long = {
    // HEAP: sig(4) version(1) reserved(3) dataSegSize(8) freeListHead(8) dataSegAddr(8)
    val bb = readAt(heapAddr, 32)
    val sig = new Array[Byte](4); bb.get(sig)
    require(new String(sig, "ASCII") == "HEAP", s"$path @$heapAddr: bad local heap")
    bb.getLong(24)
  }

  private def heapString(heapData: Long, off: Long): String = {
    // names are short; read in 64-byte probes (clamped to EOF — a name
    // stored near the end of the file must not fail readFully) until NUL
    val sb = new StringBuilder
    var pos = heapData + off
    var done = false
    while (!done) {
      val probe = math.min(64L, fileLen - pos).toInt
      require(probe > 0, s"$path: unterminated heap string at $pos")
      val bb = readAt(pos, probe)
      var i = 0
      while (i < probe && !done) {
        val b = bb.get(i)
        if (b == 0) done = true else { sb.append(b.toChar); i += 1 }
      }
      pos += probe
    }
    sb.toString
  }

  private def walkGroupBtree(addr: Long, heapData: Long, out: mutable.Map[String, Long]): Unit = {
    val head = readAt(addr, 24)
    val sig = new Array[Byte](4); head.get(sig)
    new String(sig, "ASCII") match {
      case "TREE" =>
        val level = head.get(5) & 0xff
        val n = head.getShort(6) & 0xffff
        // keys/children: (n+1) keys of 8 bytes, n children of 8 bytes
        val body = readAt(addr + 24, (2 * n + 1) * 8)
        var i = 0
        while (i < n) {
          body.position((2 * i + 1) * 8)
          val child = body.getLong()
          if (level > 0) walkGroupBtree(child, heapData, out) else readSnod(child, out)
          i += 1
        }
      case "SNOD" => readSnod(addr, out)
      case other => sys.error(s"$path @$addr: expected TREE/SNOD, got $other")
    }

    def readSnod(sAddr: Long, acc: mutable.Map[String, Long]): Unit = {
      val hb = readAt(sAddr, 8)
      val s = new Array[Byte](4); hb.get(s)
      require(new String(s, "ASCII") == "SNOD", s"$path @$sAddr: bad SNOD")
      val cnt = hb.getShort(6) & 0xffff
      val eb = readAt(sAddr + 8, cnt * 40)
      var i = 0
      while (i < cnt) {
        eb.position(i * 40)
        val nameOff = eb.getLong()
        val oh = eb.getLong()
        acc(heapString(heapData, nameOff)) = oh
        i += 1
      }
    }
  }

  /** Resolve an absolute path like
    * `/DataSet/ResolutionLevel 0/TimePoint 0/Channel 0/Data` to its
    * object header address, or None if a component is missing (the
    * reference raises `MissingDatasetError`, `io_utils.py:405-408`).
    */
  def resolve(absPath: String): Option[Long] = {
    val parts = absPath.split("/").filter(_.nonEmpty)
    var cur = rootObjectHeader
    for (p <- parts) {
      groupChildren(cur).get(p) match {
        case Some(next) => cur = next
        case None       => return None
      }
    }
    Some(cur)
  }

  def exists(absPath: String): Boolean = resolve(absPath).isDefined

  // ---- attributes ---------------------------------------------------------

  private def parseAttrBody(body: Array[Byte]): (String, String) = {
    val bb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val version = bb.get(0) & 0xff
    require(version >= 1 && version <= 3, s"unsupported attribute message version $version")
    val nameSize = bb.getShort(2) & 0xffff
    val dtSize = bb.getShort(4) & 0xffff
    val dsSize = bb.getShort(6) & 0xffff
    if (version >= 2) {
      val flags = bb.get(1) & 0xff
      require((flags & 0x03) == 0, "shared attribute datatype/dataspace unsupported")
    }
    // v1 pads name/datatype/dataspace to 8; v2/v3 pack them; v3 adds a
    // name-encoding byte before the name
    def pad(n: Int) = if (version == 1) (n + 7) / 8 * 8 else n
    val nameStart = if (version == 3) 9 else 8
    val name = new String(body, nameStart, nameSize, "ASCII").takeWhile(_ != 0)
    val dataStart = nameStart + pad(nameSize) + pad(dtSize) + pad(dsSize)
    val value = new String(body, dataStart, body.length - dataStart, "ASCII")
      .takeWhile(_ != 0)
    name -> value
  }

  /** Byte-string attributes of an object, decoded to String (the Imaris
    * numeric-attrs-as-byte-strings quirk, `io_utils.py:462-466`).
    * Dense storage (>8 attrs — REACHABLE for real Imaris `libver=latest`
    * files, whose Image group carries 10 attrs) reads the attribute
    * messages from the object's attribute fractal heap via the type-8
    * name-index B-tree.
    */
  def attributes(absPath: String): Map[String, String] = {
    val oh = resolve(absPath).getOrElse(
      throw MissingDatasetError(s"$path: no object at $absPath"))
    val h = readObjectHeader(oh)
    val compact = h.messages.collect { case (MsgAttribute, body) => parseAttrBody(body) }
    val dense = h.messages.find(_._1 == MsgAttrInfo).toSeq.flatMap { case (_, body) =>
      val bb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
      val flags = bb.get(1) & 0xff
      val fheapPos = 2 + (if ((flags & 1) != 0) 2 else 0)
      val fheap = bb.getLong(fheapPos)
      val nameBt = bb.getLong(fheapPos + 8)
      if (fheap == Undef) Seq.empty
      else {
        val heap = fractalHeap(fheap)
        // type-8 record: 8-byte managed heap ID + msg flags (1) +
        // creation order (4) + name hash (4)
        denseBtreeRecords(nameBt, expectedType = 8)
          .map(rec => heap(java.util.Arrays.copyOfRange(rec, 0, 8)))
          .map(parseAttrBody)
      }
    }
    (compact ++ dense).toMap
  }

  // ---- datasets -----------------------------------------------------------

  import Hdf5Reader.Dataset

  def openDataset(absPath: String): Dataset = {
    val oh = resolve(absPath).getOrElse(
      throw MissingDatasetError(s"$path: no dataset at $absPath"))
    val h = readObjectHeader(oh)
    val dims = h.messages.find(_._1 == MsgDataspace).map { case (_, body) =>
      val bb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
      val ver = bb.get(0) & 0xff
      val rank = bb.get(1) & 0xff
      val hdr = if (ver == 1) 8 else 4 // v2: version, rank, flags, type
      Array.tabulate(rank)(i => bb.getLong(hdr + 8 * i))
    }.getOrElse(sys.error(s"$absPath: no dataspace"))
    require(dims.length == 3, s"$absPath: expected rank 3, got ${dims.length}")

    val (elemSize, signed) = h.messages.find(_._1 == MsgDatatype).map { case (_, body) =>
      val bb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
      val clsVer = bb.get(0) & 0xff
      val cls = clsVer & 0x0f
      require(cls == 0, s"$absPath: expected fixed-point datatype, class $cls")
      val bits0 = bb.get(1) & 0xff
      val size = bb.getInt(4)
      (size, (bits0 & 0x08) != 0)
    }.getOrElse(sys.error(s"$absPath: no datatype"))

    // layout: v3 (libver<=1.8) and v4 (libver latest); classes compact(0),
    // contiguous(1), chunked(2). Compact/contiguous are modeled as a
    // degenerate single-chunk dataset spanning the whole shape, so
    // readRegion stays one code path.
    sealed trait LayoutInfo
    final case class ChunkedBtree(addr: Long, chunk: Array[Int]) extends LayoutInfo
    final case class SingleChunk(addr: Long, storedLen: Long, chunk: Array[Int]) extends LayoutInfo
    final case class ChunkedImplicit(addr: Long, chunk: Array[Int]) extends LayoutInfo
    final case class ChunkedFixedArray(addr: Long, chunk: Array[Int], pageBits: Int) extends LayoutInfo
    final case class ChunkedExtArray(addr: Long, chunk: Array[Int]) extends LayoutInfo
    final case class ChunkedBtreeV2(addr: Long, chunk: Array[Int]) extends LayoutInfo
    final case class Contiguous(addr: Long, size: Long) extends LayoutInfo
    final case class Compact(data: Array[Byte]) extends LayoutInfo

    val layout: LayoutInfo = h.messages.find(_._1 == MsgLayout).map { case (_, body) =>
      val bb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
      val ver = bb.get(0) & 0xff
      val cls = bb.get(1) & 0xff
      (ver, cls) match {
        case (3, 0) =>
          val sz = bb.getShort(2) & 0xffff
          Compact(java.util.Arrays.copyOfRange(body, 4, 4 + sz))
        case (3, 1) =>
          Contiguous(bb.getLong(2), bb.getLong(10))
        case (3, 2) =>
          val ndims = bb.get(2) & 0xff
          val addr = bb.getLong(3)
          val cd = Array.tabulate(ndims - 1)(i => bb.getInt(11 + 4 * i))
          ChunkedBtree(addr, cd)
        case (4, 0) =>
          val sz = bb.getShort(2) & 0xffff
          Compact(java.util.Arrays.copyOfRange(body, 4, 4 + sz))
        case (4, 1) =>
          Contiguous(bb.getLong(2), bb.getLong(10))
        case (4, 2) =>
          val flags = bb.get(2) & 0xff
          val ndims = bb.get(3) & 0xff
          val encLen = bb.get(4) & 0xff
          bb.position(5)
          val cdAll = Array.tabulate(ndims) { _ =>
            encLen match {
              case 1 => bb.get() & 0xff
              case 2 => bb.getShort() & 0xffff
              case 4 => bb.getInt()
              case _ => bb.getLong().toInt
            }
          }
          // libhdf5 encodes v4 chunk dimensionality as rank+1 with a
          // trailing element-size pseudo-dimension, exactly like v3 (whose
          // branch above drops it via ndims-1): a 3-D uint16 dataset
          // carries ndims=4, dims [cz,cy,cx,2]. Verify and drop it.
          require(cdAll.length >= 2 && cdAll.last == elemSize,
            s"$absPath: v4 chunk dims ${cdAll.mkString("[", ",", "]")} must end " +
              s"with the element size $elemSize (libhdf5 rank+1 encoding)")
          val cd = cdAll.init
          bb.get() match {
            case b if (b & 0xff) == 1 => // Single Chunk
              val storedLen =
                if ((flags & 0x02) != 0) { val l = bb.getLong(); bb.getInt(); l } // filtered size + mask
                else cd.map(_.toLong).product * elemSize
              SingleChunk(bb.getLong(), storedLen, cd)
            case b if (b & 0xff) == 2 => // Implicit: dense unfiltered chunk array
              ChunkedImplicit(bb.getLong(), cd)
            case b if (b & 0xff) == 3 => // Fixed Array
              val pageBits = bb.get() & 0xff
              ChunkedFixedArray(bb.getLong(), cd, pageBits)
            case b if (b & 0xff) == 4 => // Extensible Array
              // creation parameters (H5O layout v4 encodes each as 1 byte):
              // max-nelmts bits, index-block elements, super-block min data
              // pointers, data-block min elements, max dblk-page bits — all
              // re-read from the EAHD header itself, so skip the copy here
              bb.position(bb.position() + 5)
              ChunkedExtArray(bb.getLong(), cd)
            case b if (b & 0xff) == 5 => // Version-2 B-tree
              bb.getInt() // node size
              bb.get(); bb.get() // split / merge percent
              ChunkedBtreeV2(bb.getLong(), cd)
            case b =>
              sys.error(s"$absPath: v4 chunk index type ${b & 0xff} is outside the subset")
          }
        case (v, c) => sys.error(s"$absPath: unsupported layout version $v class $c")
      }
    }.getOrElse(sys.error(s"$absPath: no layout"))

    val filters = h.messages.find(_._1 == MsgFilterPipeline).map { case (_, body) =>
      val bb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
      val ver = bb.get(0) & 0xff
      val nf = bb.get(1) & 0xff
      var pos = if (ver == 1) 8 else 2
      (0 until nf).map { _ =>
        val id = bb.getShort(pos) & 0xffff
        // v1 always has name length; v2 omits it for id < 256
        val hasNameLen = ver == 1 || id >= 256
        val nameLen = if (hasNameLen) bb.getShort(pos + 2) & 0xffff else 0
        val base = if (hasNameLen) pos + 4 else pos + 2
        val flags = bb.getShort(base) & 0xffff
        val ncd = bb.getShort(base + 2) & 0xffff
        val namePad = if (ver == 1) (nameLen + 7) / 8 * 8 else nameLen
        val cdStart = base + 4 + namePad
        val cd = Array.tabulate(ncd)(i => bb.getInt(cdStart + 4 * i))
        pos = cdStart + 4 * ncd + (if (ver == 1 && ncd % 2 == 1) 4 else 0)
        Filter(id, flags, cd.toSeq)
      }
    }.getOrElse(Seq.empty)

    // linear chunk index (row-major over the chunk grid) → (z, y, x)
    def gridIndex(chunkDims: Array[Int]): Int => (Long, Long, Long) = {
      val gy = (dims(1) + chunkDims(1) - 1) / chunkDims(1)
      val gx = (dims(2) + chunkDims(2) - 1) / chunkDims(2)
      i => {
        val iz = i / (gy * gx)
        val iy = (i - iz * gy * gx) / gx
        val ix = i % gx
        (iz * chunkDims(0), iy * chunkDims(1), ix * chunkDims(2))
      }
    }

    layout match {
      case ChunkedBtree(btreeAddr, chunkDims) =>
        require(chunkDims.length == 3, s"$absPath: expected 3-D chunks")
        val index = mutable.Map.empty[(Long, Long, Long), (Long, Int)]
        if (btreeAddr != Undef) walkChunkBtree(btreeAddr, 3, index)
        Dataset(dims, chunkDims, elemSize, signed, filters, index.toMap)
      case ChunkedImplicit(base, chunkDims) =>
        // dense unfiltered chunk array: chunk i at base + i·chunkBytes
        require(chunkDims.length == 3, s"$absPath: expected 3-D chunks")
        require(filters.isEmpty, s"$absPath: implicit chunk index cannot carry filters")
        val chunkBytes = chunkDims.map(_.toLong).product * elemSize
        require(chunkBytes <= Int.MaxValue, s"$absPath: chunk too large")
        val toZyx = gridIndex(chunkDims)
        val n = (0 until 3).map(i => (dims(i) + chunkDims(i) - 1) / chunkDims(i)).product
        val index =
          if (base == Undef) Map.empty[(Long, Long, Long), (Long, Int)]
          else (0 until n.toInt).map(i =>
            toZyx(i) -> (base + i * chunkBytes, chunkBytes.toInt)).toMap
        Dataset(dims, chunkDims, elemSize, signed, Seq.empty, index)
      case ChunkedFixedArray(faAddr, chunkDims, _) =>
        require(chunkDims.length == 3, s"$absPath: expected 3-D chunks")
        val chunkBytes = chunkDims.map(_.toLong).product * elemSize
        require(chunkBytes <= Int.MaxValue, s"$absPath: chunk too large")
        val toZyx = gridIndex(chunkDims)
        val index = mutable.Map.empty[(Long, Long, Long), (Long, Int)]
        if (faAddr != Undef)
          readFixedArray(faAddr).zipWithIndex.foreach { case ((addr, stored), i) =>
            if (addr != Undef)
              index(toZyx(i)) = (addr, if (stored > 0) stored else chunkBytes.toInt)
          }
        Dataset(dims, chunkDims, elemSize, signed, filters, index.toMap)
      case ChunkedExtArray(eaAddr, chunkDims) =>
        require(chunkDims.length == 3, s"$absPath: expected 3-D chunks")
        val chunkBytes = chunkDims.map(_.toLong).product * elemSize
        require(chunkBytes <= Int.MaxValue, s"$absPath: chunk too large")
        val toZyx = gridIndex(chunkDims)
        val index = mutable.Map.empty[(Long, Long, Long), (Long, Int)]
        if (eaAddr != Undef)
          readExtensibleArray(eaAddr).zipWithIndex.foreach { case ((addr, stored), i) =>
            if (addr != Undef)
              index(toZyx(i)) = (addr, if (stored > 0) stored else chunkBytes.toInt)
          }
        Dataset(dims, chunkDims, elemSize, signed, filters, index.toMap)
      case ChunkedBtreeV2(btAddr, chunkDims) =>
        require(chunkDims.length == 3, s"$absPath: expected 3-D chunks")
        val chunkBytes = chunkDims.map(_.toLong).product * elemSize
        require(chunkBytes <= Int.MaxValue, s"$absPath: chunk too large")
        // record type 10 = non-filtered chunks, 11 = filtered chunks
        // (spec III.A.2); both carry 8-byte SCALED offsets per dataspace
        // dimension (chunk-grid coordinates, no element-size pseudo-dim)
        val filtered = filters.nonEmpty
        val recType = if (filtered) 11 else 10
        val index = mutable.Map.empty[(Long, Long, Long), (Long, Int)]
        if (btAddr != Undef)
          denseBtreeRecords(btAddr, recType).foreach { rec =>
            val rb = ByteBuffer.wrap(rec).order(ByteOrder.LITTLE_ENDIAN)
            val addr = rb.getLong()
            val stored =
              if (filtered) {
                // chunk size is a variable-width field: whatever the record
                // leaves after address + filter mask + rank scaled offsets
                val szBytes = rec.length - 8 - 4 - 3 * 8
                require(szBytes >= 1 && szBytes <= 8,
                  s"$absPath @$btAddr: implausible v2-btree chunk record size ${rec.length}")
                var v = 0L
                var i = 0
                while (i < szBytes) { v |= (rb.get() & 0xffL) << (8 * i); i += 1 }
                rb.getInt() // filter mask (0 = all applied)
                require(v <= Int.MaxValue, s"$absPath: stored chunk too large")
                v.toInt
              } else {
                require(rec.length == 8 + 3 * 8,
                  s"$absPath @$btAddr: v2-btree chunk record size ${rec.length}, expected 32")
                chunkBytes.toInt
              }
            val sz = rb.getLong(); val sy = rb.getLong(); val sx = rb.getLong()
            index((sz * chunkDims(0), sy * chunkDims(1), sx * chunkDims(2))) =
              (addr, stored)
          }
        Dataset(dims, chunkDims, elemSize, signed, filters, index.toMap)
      case SingleChunk(addr, storedLen, chunkDims) =>
        require(chunkDims.length == 3, s"$absPath: expected 3-D chunks")
        require(storedLen <= Int.MaxValue,
          s"$absPath: single-chunk dataset of $storedLen bytes is too large " +
            "for a single-buffer read (2 GiB limit)")
        val index =
          if (addr == Undef) Map.empty[(Long, Long, Long), (Long, Int)]
          else Map((0L, 0L, 0L) -> (addr, storedLen.toInt))
        Dataset(dims, chunkDims, elemSize, signed, filters, index)
      case Contiguous(addr, size) =>
        require(filters.isEmpty, s"$absPath: contiguous layout cannot carry filters")
        require(size <= Int.MaxValue,
          s"$absPath: contiguous dataset of $size bytes is too large " +
            "for a single-buffer read (2 GiB limit)")
        val chunkDims = dims.map(_.toInt)
        val index =
          if (addr == Undef) Map.empty[(Long, Long, Long), (Long, Int)] // unallocated → fill
          else Map((0L, 0L, 0L) -> (addr, size.toInt))
        Dataset(dims, chunkDims, elemSize, signed, Seq.empty, index)
      case Compact(data) =>
        require(filters.isEmpty, s"$absPath: compact layout cannot carry filters")
        Dataset(dims, dims.map(_.toInt), elemSize, signed, Seq.empty,
          Map((0L, 0L, 0L) -> (InlineAddr, data.length)), inline = Some(data))
    }
  }

  /** Fixed Array chunk index (spec III.F: FAHD header + FADB data block).
    * Returns (chunk file address, stored length) per linear chunk index;
    * stored length is 0 for unfiltered entries (client 0 — the caller
    * substitutes the raw chunk size). Subset: non-paged data block
    * (every realistic chunk count fits; paged blocks fail loudly).
    */
  private def readFixedArray(faAddr: Long): Seq[(Long, Int)] = {
    val hb = readAt(faAddr, 28)
    val sig = new Array[Byte](4); hb.get(sig)
    require(new String(sig, "ASCII") == "FAHD", s"$path @$faAddr: bad fixed array header")
    val clientId = hb.get(5) & 0xff
    require(clientId == 0 || clientId == 1,
      s"$path @$faAddr: fixed array client $clientId not a chunk index")
    val entrySize = hb.get(6) & 0xff
    val pageBits = hb.get(7) & 0xff
    val maxNelmts = hb.getLong(8)
    val dataAddr = hb.getLong(16)
    require(maxNelmts <= (1L << pageBits),
      s"$path @$faAddr: paged fixed-array data blocks are outside the subset " +
        s"($maxNelmts elements > 2^$pageBits page)")
    if (dataAddr == Undef) return Seq.empty
    val db = readAt(dataAddr, 14 + (maxNelmts * entrySize).toInt)
    val ds = new Array[Byte](4); db.get(ds)
    require(new String(ds, "ASCII") == "FADB", s"$path @$dataAddr: bad fixed array data block")
    db.position(14) // sig(4) ver(1) client(1) headerAddr(8)
    (0 until maxNelmts.toInt).map { _ =>
      val addr = db.getLong()
      if (clientId == 0) (addr, 0)
      else {
        // filtered element: address + stored size (entrySize-12 bytes) + mask
        var stored = 0L
        val szBytes = entrySize - 12
        var i = 0
        while (i < szBytes) { stored |= (db.get() & 0xffL) << (8 * i); i += 1 }
        db.getInt() // filter mask (0 = all applied)
        require(stored <= Int.MaxValue, s"$path: stored chunk too large")
        (addr, stored.toInt)
      }
    }
  }

  /** Extensible Array chunk index (spec III.G: EAHD header → EAIB index
    * block). The first `idx_blk_elmts` elements live inline in the index
    * block; the next ones live in the directly-addressed EADB data blocks
    * the index block points at (2·(sup_blk_min_data_ptrs−1) of them,
    * covering super-block rows 0..2·log2(min_ptrs)−1 with the standard
    * 2^(u/2) blocks × min_elmts·2^((u+1)/2) elements growth). Returns
    * (chunk file address, stored length) per linear chunk index; stored
    * length is 0 for unfiltered entries (client 0). Subset: no super
    * blocks and no data-block pages — libhdf5 only reaches those after
    * the element count outgrows the index block's direct data blocks,
    * thousands of appends into an unlimited-maxshape dataset.
    */
  private def readExtensibleArray(eaAddr: Long): Seq[(Long, Int)] = {
    val hb = readAt(eaAddr, 72)
    val sig = new Array[Byte](4); hb.get(sig)
    require(new String(sig, "ASCII") == "EAHD", s"$path @$eaAddr: bad extensible array header")
    val clientId = hb.get(5) & 0xff
    require(clientId == 0 || clientId == 1,
      s"$path @$eaAddr: extensible array client $clientId not a chunk index")
    val elemSize = hb.get(6) & 0xff
    val maxBits = hb.get(7) & 0xff
    val idxElmts = hb.get(8) & 0xff
    val dblkMin = hb.get(9) & 0xff
    val supMin = hb.get(10) & 0xff
    // stats block: nsuper_blks, super_blk_size, ndata_blks, data_blk_size,
    // max_idx_set, nelmts (6 lengths), then the index block address
    val maxIdxSet = hb.getLong(44)
    val idxBlkAddr = hb.getLong(60)
    if (idxBlkAddr == Undef || maxIdxSet == 0) return Seq.empty
    def log2(v: Int): Int = 31 - Integer.numberOfLeadingZeros(v)
    // data blocks addressed straight from the index block: super-block
    // rows 0 .. 2·log2(supMin)−1, row u holding 2^(u/2) blocks of
    // dblkMin·2^((u+1)/2) elements each
    val directDblkElmts: Seq[Long] = (0 until 2 * log2(supMin)).flatMap { u =>
      Seq.fill(1 << (u / 2))(dblkMin.toLong << ((u + 1) / 2))
    }
    val capacity = idxElmts + directDblkElmts.sum
    require(maxIdxSet <= capacity,
      s"$path @$eaAddr: extensible-array super blocks are outside the subset " +
        s"($maxIdxSet elements > $capacity direct capacity)")
    def element(bb: ByteBuffer): (Long, Int) = {
      val addr = bb.getLong()
      if (clientId == 0) (addr, 0)
      else {
        // filtered element: address + stored size (elemSize-12 bytes) + mask
        var stored = 0L
        val szBytes = elemSize - 12
        var i = 0
        while (i < szBytes) { stored |= (bb.get() & 0xffL) << (8 * i); i += 1 }
        bb.getInt() // filter mask (0 = all applied)
        require(stored <= Int.MaxValue, s"$path: stored chunk too large")
        (addr, stored.toInt)
      }
    }
    val nDirect = directDblkElmts.length
    val ib = readAt(idxBlkAddr, 14 + idxElmts * elemSize + nDirect * 8)
    val is = new Array[Byte](4); ib.get(is)
    require(new String(is, "ASCII") == "EAIB",
      s"$path @$idxBlkAddr: bad extensible array index block")
    ib.position(14) // sig(4) ver(1) client(1) headerAddr(8)
    val out = mutable.ArrayBuffer.empty[(Long, Int)]
    out ++= (0 until math.min(idxElmts.toLong, maxIdxSet).toInt).map(_ => element(ib))
    if (maxIdxSet > idxElmts) {
      ib.position(14 + idxElmts * elemSize)
      val dblkAddrs = Array.fill(nDirect)(ib.getLong())
      val offSize = (maxBits + 7) / 8
      var remaining = maxIdxSet - idxElmts
      var d = 0
      while (remaining > 0 && d < nDirect) {
        val take = math.min(directDblkElmts(d), remaining).toInt
        if (dblkAddrs(d) == Undef) out ++= Seq.fill(take)((Undef, 0))
        else {
          val db = readAt(dblkAddrs(d), 14 + offSize + take * elemSize)
          val ds = new Array[Byte](4); db.get(ds)
          require(new String(ds, "ASCII") == "EADB",
            s"$path @${dblkAddrs(d)}: bad extensible array data block")
          db.position(14 + offSize) // sig ver client headerAddr + block offset
          out ++= (0 until take).map(_ => element(db))
        }
        remaining -= take
        d += 1
      }
    }
    out.toSeq
  }

  private def walkChunkBtree(
      addr: Long, rank: Int,
      out: mutable.Map[(Long, Long, Long), (Long, Int)]): Unit = {
    val head = readAt(addr, 24)
    val sig = new Array[Byte](4); head.get(sig)
    require(new String(sig, "ASCII") == "TREE", s"$path @$addr: bad chunk btree")
    require((head.get(4) & 0xff) == 1, "expected chunk btree (type 1)")
    val level = head.get(5) & 0xff
    val n = head.getShort(6) & 0xffff
    val keySize = 8 + (rank + 1) * 8
    val body = readAt(addr + 24, n * (keySize + 8) + keySize)
    var i = 0
    while (i < n) {
      body.position(i * (keySize + 8))
      val storedLen = body.getInt()
      body.getInt() // filter mask (0 = all applied)
      val z = body.getLong(); val y = body.getLong(); val x = body.getLong()
      body.getLong() // element-size dim offset, always 0
      val child = body.getLong()
      if (level > 0) walkChunkBtree(child, rank, out)
      else out((z, y, x)) = (child, storedLen)
      i += 1
    }
  }

  // ---- chunk decode + region read ----------------------------------------

  // per-reader scratch buffers, reused across chunks: decoding churns
  // ~40 MB of fresh arrays per 16 MB chunk otherwise, and at 8-32
  // concurrent tasks that allocation rate alone drives the executor heap
  // to the GC wall. A reader is single-threaded (one per task/file), so
  // plain fields are safe. decodeChunk's result aliases a scratch — it is
  // valid only until the next decodeChunk call on this reader.
  private var compScratch: Array[Byte] = Array.emptyByteArray
  private var inflateScratch: Array[Byte] = Array.emptyByteArray
  private var lz4Scratch: Array[Byte] = Array.emptyByteArray
  private def grown(buf: Array[Byte], n: Int): Array[Byte] =
    if (buf.length >= n) buf else new Array[Byte](n)

  /** Decode one stored chunk to exactly rawLen bytes, applying every
    * filter but the shuffle: libhdf5 writers put it first in the pipeline
    * (shuffle, then deflate or lz4), so it comes last in read order and is
    * left to the region copy; the second result says whether the bytes
    * are still shuffled. A shuffle anywhere else is outside the subset.
    * The returned array may be a reused scratch whose length EXCEEDS the
    * logical chunk size and whose content is valid only until the next
    * call — callers must copy out what they need immediately
    * (readRegionInto does).
    */
  private def decodeChunk(ds: Dataset, addr: Long, storedLen: Int): (Array[Byte], Boolean) = {
    var data: Array[Byte] = null
    var len = 0
    if (addr == InlineAddr) { data = ds.inline.get; len = data.length } // compact layout
    else {
      compScratch = grown(compScratch, storedLen)
      in.readFully(addr, compScratch, 0, storedLen)
      data = compScratch; len = storedLen
    }
    val rawLen = ds.chunk.product * ds.elemSize
    // filters applied in reverse of pipeline order
    val shuffled = ds.filters.headOption.exists(_.id == 2)
    if (shuffled) require(ds.filters.head.clientData.headOption.forall(_ == ds.elemSize),
      s"$path: shuffle element size ${ds.filters.head.clientData.head} is not the datatype's ${ds.elemSize}")
    for (f <- ds.filters.reverse.dropRight(if (shuffled) 1 else 0)) f.id match {
      case 1 => // deflate
        val inf = new Inflater()
        inf.setInput(data, 0, len)
        inflateScratch = grown(inflateScratch, rawLen)
        val out = inflateScratch
        var off = 0
        var progress = -1
        // a truncated/corrupt stream makes inflate() return 0 while
        // neither finished nor out of output space — bail to the length
        // check instead of spinning forever
        while (!inf.finished() && off < rawLen && progress != 0) {
          progress = inf.inflate(out, off, rawLen - off)
          off += progress
        }
        inf.end()
        require(off == rawLen, s"$path: deflate chunk expanded to $off, want $rawLen")
        data = out; len = rawLen
      case 2 => sys.error(s"$path: a shuffle filter after another filter is outside the subset")
      case 32004 => // HDF5-lz4: u64BE total, u32BE blockSize, blocks of u32BE len + payload
        val bb = ByteBuffer.wrap(data, 0, len).order(ByteOrder.BIG_ENDIAN)
        val total = bb.getLong()
        val blockSize = bb.getInt()
        lz4Scratch = grown(lz4Scratch, total.toInt)
        val out = lz4Scratch
        var outOff = 0
        val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance().safeDecompressor()
        while (outOff < total) {
          val compLen = bb.getInt()
          val thisBlock = math.min(blockSize.toLong, total - outOff).toInt
          if (compLen == thisBlock) { // stored raw
            bb.get(out, outOff, thisBlock)
          } else {
            val comp = new Array[Byte](compLen)
            bb.get(comp)
            val n = lz4.decompress(comp, 0, compLen, out, outOff, thisBlock)
            require(n == thisBlock, s"$path: lz4 block decoded $n, want $thisBlock")
          }
          outOff += thisBlock
        }
        data = out; len = total.toInt
      case other => sys.error(s"$path: unsupported HDF5 filter id $other")
    }
    require(len == rawLen, s"$path: chunk decoded to $len, want $rawLen")
    (data, shuffled)
  }

  /** Hyperslab read (reference `read_block`, `io_utils.py:122-151`):
    * returns the region in C order (Z,Y,X) as uint16 values in a short
    * array. Each intersecting chunk is decompressed exactly once (X1).
    * Chunks absent from the index are fill (zeros).
    */
  def readRegion(ds: Dataset,
                 z0: Long, z1: Long, y0: Long, y1: Long, x0: Long, x1: Long): Array[Short] = {
    val nz = (z1 - z0).toInt; val ny = (y1 - y0).toInt; val nx = (x1 - x0).toInt
    readRegionInto(ds, z0, z1, y0, y1, x0, x1, new Array[Short](nz * ny * nx))
  }

  /** [[readRegion]] into a CALLER-OWNED buffer of length ≥ the region
    * voxel count (extra tail is untouched). Lets conversion tasks reuse
    * one region scratch across every task in a partition — allocating a
    * fresh 268 MB humongous array per 512³ shard task was the dominant
    * allocation of the whole pipeline.
    *
    * One pass per chunk: the decoded bytes go straight into the region's
    * rows — read as little-endian, or gathered from the two byte planes
    * when the shuffle was left undone ([[decodeChunk]]). Every
    * region voxel is written once: by its chunk, or as fill where the
    * chunk is missing.
    */
  def readRegionInto(ds: Dataset,
                     z0: Long, z1: Long, y0: Long, y1: Long, x0: Long, x1: Long,
                     out: Array[Short]): Array[Short] = {
    require(ds.elemSize == 2, s"$path: only uint16/int16 payloads supported, got ${ds.elemSize} bytes")
    val region = Shape3(z1 - z0, y1 - y0, x1 - x0)
    require(out.length >= region.voxels, s"$path: region buffer too small")
    val chunk = Shape3(ds.chunk(0), ds.chunk(1), ds.chunk(2))
    val chunkVox = chunk.voxels.toInt
    val lo = Shape3(z0, y0, x0)
    val hi = Shape3(z1, y1, x1)
    // stored chunks are full-size, so tiles are clipped to the region only
    Voxels.forEachTile(lo, hi, chunk, hi) { t =>
      val stored = ds.chunkIndex.get((t.origin.z, t.origin.y, t.origin.x))
      val (bytes, shuffled) = stored.fold((Array.emptyByteArray, false)) { case (addr, len) =>
        decodeChunk(ds, addr, len) }
      val le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asShortBuffer()
      val run = t.extent.x.toInt
      var z = t.lo.z
      while (z < t.lo.z + t.extent.z) {
        var y = t.lo.y
        while (y < t.lo.y + t.extent.y) {
          // the row's first voxel in the chunk and in the region
          val s = (((z - t.origin.z) * chunk.y + (y - t.origin.y)) * chunk.x + (t.lo.x - t.origin.x)).toInt
          val d = (((z - z0) * region.y + (y - y0)) * region.x + (t.lo.x - x0)).toInt
          if (stored.isEmpty) java.util.Arrays.fill(out, d, d + run, 0.toShort)
          else if (!shuffled) le.get(s, out, d, run)
          else {
            // byte plane 0 holds every voxel's low byte, plane 1 its high
            var i = 0
            while (i < run) {
              out(d + i) = ((bytes(s + i) & 0xff) | (bytes(chunkVox + s + i) << 8)).toShort
              i += 1
            }
          }
          y += 1
        }
        z += 1
      }
    }
    out
  }
}

object Hdf5Reader {
  private val Signature: Array[Byte] =
    Array(0x89.toByte, 'H'.toByte, 'D'.toByte, 'F'.toByte, '\r'.toByte, '\n'.toByte, 0x1a.toByte, '\n'.toByte)
  private val Undef: Long = -1L // 0xFFFFFFFFFFFFFFFF
  private val InlineAddr: Long = -2L // sentinel: compact-layout data in header

  private val MsgNil = 0x0000
  private val MsgDataspace = 0x0001
  private val MsgLinkInfo = 0x0002
  private val MsgDatatype = 0x0003
  private val MsgLink = 0x0006
  private val MsgLayout = 0x0008
  private val MsgFilterPipeline = 0x000B
  private val MsgAttribute = 0x000C
  private val MsgContinuation = 0x0010
  private val MsgSymbolTable = 0x0011
  private val MsgAttrInfo = 0x0015

  final case class Filter(id: Int, flags: Int, clientData: Seq[Int])

  /** Parsed dataset descriptor: layout + filters + full chunk index. */
  final case class Dataset(
      shape: Array[Long],        // stored (padded) dims, ZYX
      chunk: Array[Int],         // chunk dims, ZYX
      elemSize: Int,             // bytes per element (2 for uint16)
      signed: Boolean,
      filters: Seq[Filter],      // write order; applied in reverse on read
      chunkIndex: Map[(Long, Long, Long), (Long, Int)], // chunk zyx -> (addr, storedLen)
      inline: Option[Array[Byte]] = None // compact-layout payload (addr == InlineAddr)
  ) {
    def grid: Array[Long] = Array(
      (shape(0) + chunk(0) - 1) / chunk(0),
      (shape(1) + chunk(1) - 1) / chunk(1),
      (shape(2) + chunk(2) - 1) / chunk(2))
  }

  /** Reference `MissingDatasetError` (`io_utils.py:13-14`). */
  final case class MissingDatasetError(msg: String) extends RuntimeException(msg)
}
