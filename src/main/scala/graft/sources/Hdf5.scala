package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Climate.{byCell, cellLattice, microMean}

/** REAL HDF5 codec — closing the NetCDF-4 half of the CDS-download
  * seam (`ingestor_cds_process.py` requests can arrive as NetCDF-4,
  * which IS HDF5 with naming conventions; the classic-format half is
  * `NetCdf.decodeNc`). The container has no libhdf5, but the FORMAT
  * is public (HDF5 File Format Specification v2/v3) and the subset a
  * data file actually uses is superblock + object headers + symbol
  * tables + chunk B-trees + DEFLATE — all JDK territory, exactly
  * like the GRIB-1/TIFF/zarr codecs built from their public specs.
  *
  * Decodes the NetCDF-4/h5py-shaped subset in BOTH format families:
  * the classic file (superblock v0 — base offset 0 or a 512/1024/
  * 2048-byte userblock — v1 object headers with continuation blocks,
  * group symbol-table B-tree v1 → SNOD → local heap names, dataspace
  * v1, v1 attributes) AND (r12) the 1.8+/1.10+ "latest" format
  * (superblock v2/v3 with its Jenkins-lookup3 checksum, 'OHDR' v2
  * object headers with 'OCHK' continuations, COMPACT link-message
  * groups — what libhdf5 writes below its 8-link dense threshold —
  * dataspace v2, v3 attributes). Shared across both: datatypes
  * fixed-point (1/2/4/8-byte signed LE) and IEEE float (f32/f64 LE),
  * fill-value, layout v3 contiguous AND chunked (chunk B-tree v1),
  * (r13) layout v4 — the 1.10+ chunk-index generation — with the
  * single-chunk, implicit, and fixed-array (paged and unpaged FADB)
  * indexing types, filter pipeline v1 with DEFLATE (id 1) and
  * SHUFFLE (id 2), scalar/1-D numeric and string attributes (CF
  * `scale_factor` / `add_offset` ride here), and (r13) DENSE
  * fractal-heap groups in the small-group form libhdf5 writes past
  * its 8-link threshold (root direct block + depth-0 name-index v2
  * B-tree, name hashes re-derived through the pinned lookup3),
  * including (r15) root-indirect and (r16) NESTED-indirect and
  * FILTERED heap walks, with v2 B-trees decoded to any depth. The
  * remaining slivers — huge/tiny heap objects, szip — quarantine
  * loudly via Left(reason), the house drop discipline.
  *
  * The encoder writes the same subset (the in-plan render → decode
  * gate proves decode∘encode = identity over every layout/filter
  * combination, and the spec pins verbatim byte layouts so encoder
  * and decoder cannot share a drifted misreading silently).
  */
object Hdf5 {

  private val Sig = Array(0x89, 'H', 'D', 'F', '\r', '\n', 0x1A, '\n')
    .map(_.toByte)
  private val Undef = -1L // 0xFFFF…FF address

  /** Decoded attribute: scalar numeric in `num`, 1-D numeric vectors
    * additionally in `nums` (with `num` = first element), strings in
    * `str`. Higher-rank or exotic-typed attributes are dropped. */
  private[graft] case class H5Attr(name: String, num: Option[Double],
      str: Option[String], nums: Option[Seq[Double]] = None)
  /** Decoded dataset channel: numeric values in `values` (strings →
    * null), string values in `strs` (numerics → null). A compound
    * dataset decodes to one channel per member, named
    * `dataset.member`. */
  private[graft] case class H5Dataset(name: String, dims: Seq[Int],
      dtype: String, values: Array[Double], attrs: Seq[H5Attr],
      strs: Array[String] = null)

  // ------------------------------------------------------- decoder

  private class Rd(val b: Array[Byte]) {
    def u8(p: Long): Int = b(p.toInt) & 0xFF
    def u16(p: Long): Int = u8(p) | (u8(p + 1) << 8)
    def u32(p: Long): Long = (u16(p).toLong) | (u16(p + 2).toLong << 16)
    def u64(p: Long): Long = u32(p) | (u32(p + 4) << 32)
    def ascii(p: Long, n: Int): String = new String(b, p.toInt, n, "US-ASCII")
    def cstr(p: Long): String = {
      var e = p.toInt
      while (e < b.length && b(e) != 0) e += 1
      new String(b, p.toInt, e - p.toInt, "US-ASCII")
    }
  }

  private def isUndef(a: Long): Boolean = a == Undef

  /** Floor of log₂ (0 for v ≤ 1) — H5VM_log2_gen, used by the
    * chunk-size and dimension encoding-width rules. */
  private def log2gen(v: Long): Int =
    63 - java.lang.Long.numberOfLeadingZeros(math.max(v, 1L))

  /** Parse one datatype message body → (kind, size, strPad). Kinds:
    * i1/i2/i4/i8, f4/f8 (each with a `be` suffix when the byte-order
    * bit marks big-endian — BE i1 normalizes to plain `i1`), sN
    * (fixed string of N bytes; `strPad` carries the padding class —
    * 0 null-terminate, 1 null-pad, 2 space-pad), and `vs` (variable-
    * length string: the 16-byte length + global-heap-ID element). */
  private def parseDtype(r: Rd, p: Long):
      Either[String, (String, Int, Int)] = {
    val cv = r.u8(p)
    val cls = cv & 0x0F
    val size = r.u32(p + 4).toInt
    cls match {
      case 0 =>
        val be = if ((r.u8(p + 1) & 0x01) != 0) "be" else ""
        size match {
          case 1 => Right(("i1", 1, 0)) // endianness is moot at 1 byte
          case 2 | 4 | 8 => Right((s"i$size$be", size, 0))
          case _ => Left("unsupported_int_size")
        }
      case 1 =>
        // VAX order sets bits 0 AND 6; plain bit 0 is big-endian IEEE
        if ((r.u8(p + 1) & 0x40) != 0) Left("vax_order_unsupported")
        else {
          val be = if ((r.u8(p + 1) & 0x01) != 0) "be" else ""
          size match {
            case 4 | 8 => Right((s"f$size$be", size, 0))
            case _ => Left("unsupported_float_size")
          }
        }
      case 3 => // fixed-length string; padding class in bits 0-3
        val pad = r.u8(p + 1) & 0x0F
        if (pad > 2) Left("unsupported_string_pad")
        else Right((s"s$size", size, pad))
      case 9 => // variable-length: bits 0-3 type (0 sequence, 1 string)
        if ((r.u8(p + 1) & 0x0F) != 1) Left("vlen_sequence_unsupported")
        else Right(("vs", 16, 0))
      case c => Left(s"unsupported_datatype_class_$c")
    }
  }

  /** Element byte width of a numeric/string kind ("f8be" → 8,
    * "s12" → 12, "vs" → 16). */
  private[graft] def kindElem(kind: String): Int =
    if (kind == "vs") 16
    else (if (kind.endsWith("be")) kind.dropRight(2) else kind)
      .drop(1).toInt

  private def numAt(r: Rd, p: Long, kind: String): Double = kind match {
    case "i1" => r.b(p.toInt).toDouble
    case "i2" => ((r.u16(p) << 16) >> 16).toDouble
    case "i4" => r.u32(p).toInt.toDouble
    case "i8" => r.u64(p).toDouble
    case "f4" => java.lang.Float.intBitsToFloat(r.u32(p).toInt).toDouble
    case "f8" => java.lang.Double.longBitsToDouble(r.u64(p))
    case "i2be" => ((((r.u8(p) << 8) | r.u8(p + 1)) << 16) >> 16).toDouble
    case "i4be" => ((r.u8(p).toLong << 24) | (r.u8(p + 1).toLong << 16) |
      (r.u8(p + 2).toLong << 8) | r.u8(p + 3).toLong).toInt.toDouble
    case "i8be" =>
      var v = 0L; var k = 0
      while (k < 8) { v = (v << 8) | r.u8(p + k); k += 1 }
      v.toDouble
    case "f4be" => java.lang.Float.intBitsToFloat(
      ((r.u8(p) << 24) | (r.u8(p + 1) << 16) | (r.u8(p + 2) << 8) |
        r.u8(p + 3))).toDouble
    case "f8be" =>
      var v = 0L; var k = 0
      while (k < 8) { v = (v << 8) | r.u8(p + k); k += 1 }
      java.lang.Double.longBitsToDouble(v)
  }

  /** Fixed-width string element at `p`: content stops at the first
    * NUL (padding classes 0/1); space-padded strings (class 2) strip
    * trailing spaces instead. */
  private def strAt(r: Rd, p: Long, width: Int, pad: Int): String = {
    val raw = r.ascii(p, width)
    if (pad == 2) {
      var e = raw.length
      while (e > 0 && raw(e - 1) == ' ') e -= 1
      raw.substring(0, e)
    } else raw.takeWhile(_ != 0)
  }

  /** Resolve one variable-length string element (4-byte length +
    * global-heap collection address + object index, read from `d` —
    * the chunk/contiguous element buffer) through the FILE's GCOL
    * collections (spec III.E; heap addresses are file-absolute, so
    * they resolve in `r` even when the descriptor came from a
    * defiltered chunk). */
  private def vlenStrAt(d: Rd, p: Long, r: Rd): Either[String, String] = {
    val len = d.u32(p).toInt
    val coll = d.u64(p + 4)
    val idx = d.u32(p + 12).toInt
    if (len == 0) return Right("")
    if (coll <= 0 || coll + 16 > r.b.length) return Left("bad_gheap_addr")
    if (r.ascii(coll, 4) != "GCOL") return Left("bad_gheap_signature")
    if (r.u8(coll + 4) != 1) return Left("bad_gheap_version")
    val end = coll + r.u64(coll + 8)
    if (end > r.b.length) return Left("bad_gheap_size")
    var q = coll + 16
    while (q + 16 <= end) {
      val oidx = r.u16(q)
      val osize = r.u64(q + 8)
      if (oidx == 0) return Left("gheap_object_missing") // free space
      if (oidx == idx) {
        if (q + 16 + osize > end) return Left("bad_gheap_object_size")
        return Right(r.ascii(q + 16, math.min(len.toLong, osize).toInt))
      }
      q += 16 + (osize + 7) / 8 * 8
    }
    Left("gheap_object_missing")
  }

  /** Parse a COMPOUND (class 6) datatype message → (totalSize,
    * members as (name, byteOffset, kind)). Covers the three wire
    * versions: v1 (classic — 8-padded names, u32 offset, the 28-byte
    * array-dimension block), v2 (8-padded names, u32 offset, no dim
    * block) and v3 (latest — packed names, minimal-width offsets).
    * Members must be scalar fixed/float numerics (what NetCDF-4
    * compound variables carry); anything else refuses by name. */
  private def parseCompound(r: Rd, p: Long):
      Either[String, (Int, Seq[(String, Int, String)])] = {
    val cv = r.u8(p)
    if ((cv & 0x0F) != 6) return Left("not_compound")
    val ver = cv >> 4
    if (ver < 1 || ver > 3) return Left("unsupported_compound_version")
    val nMembers = r.u8(p + 1) | (r.u8(p + 2) << 8)
    val size = r.u32(p + 4).toInt
    if (nMembers < 1 || nMembers > 1024 || size <= 0)
      return Left("bad_compound_shape")
    val offBytes = log2gen(size.toLong) / 8 + 1 // v3 minimal offset width
    val out = Seq.newBuilder[(String, Int, String)]
    var q = p + 8
    var m = 0
    while (m < nMembers) {
      val mname = r.cstr(q)
      q += (if (ver == 3) mname.length + 1
            else (mname.length + 8) / 8 * 8) // v1/v2: null-term, 8-padded
      var off = 0
      if (ver == 3) {
        var k = 0
        while (k < offBytes) { off |= r.u8(q + k) << (8 * k); k += 1 }
        q += offBytes
      } else { off = r.u32(q).toInt; q += 4 }
      if (ver == 1) {
        if (r.u8(q) != 0) return Left("compound_array_member_unsupported")
        q += 28 // dimensionality(1)+res(3)+perm(4)+res(4)+dims(16)
      }
      val kind = parseDtype(r, q) match {
        case Right((k, _, _)) if k != "vs" && !k.startsWith("s") => k
        case _ => return Left("unsupported_compound_member")
      }
      // advance past the member datatype message: 8-byte prefix +
      // property bytes (fixed-point 4, float 12)
      q += 8 + (if (kind.startsWith("f")) 12 else 4)
      if (off < 0 || off + kindElem(kind) > size)
        return Left("bad_compound_member_offset")
      out += ((mname, off, kind))
      m += 1
    }
    Right((size, out.result()))
  }

  /** All (type, bodyOffset, bodySize) messages of a v1 object header,
    * following continuation (0x0010) blocks. */
  private def headerMessages(r: Rd, addr: Long):
      Either[String, Seq[(Int, Long, Int)]] = {
    if (r.u8(addr) != 1) return Left("unsupported_object_header_version")
    val nmsg = r.u16(addr + 2)
    val out = Vector.newBuilder[(Int, Long, Int)]
    // (start, end) regions holding messages; the prefix is 12 bytes
    // + 4 alignment
    var regions = List((addr + 16, addr + 16 + r.u32(addr + 8)))
    var seen = 0
    while (regions.nonEmpty && seen < nmsg) {
      val (start, end) = regions.head
      regions = regions.tail
      var p = start
      while (p + 8 <= end && seen < nmsg) {
        val t = r.u16(p); val sz = r.u16(p + 2)
        if (t == 0x0010) { // continuation
          regions = (r.u64(p + 8), r.u64(p + 8) + r.u64(p + 16)) :: regions
        } else out += ((t, p + 8, sz))
        seen += 1
        p += 8 + sz
      }
    }
    Right(out.result())
  }

  /** All (type, bodyOffset, bodySize) messages of a VERSION-2 object
    * header ('OHDR', the 1.8+ "latest" format): optional time and
    * phase-change fields by the flags byte, variable-width chunk-0
    * size, 4-byte (or 6 with tracked creation order) message
    * headers, 'OCHK' continuation blocks, trailing checksums (not
    * re-verified — a census reads structure). */
  private def headerMessagesV2(r: Rd, addr: Long):
      Either[String, Seq[(Int, Long, Int)]] = {
    if (r.ascii(addr, 4) != "OHDR") return Left("bad_ohdr_signature")
    if (r.u8(addr + 4) != 2) return Left("unsupported_object_header_version")
    val flags = r.u8(addr + 5)
    var p = addr + 6
    if ((flags & 0x20) != 0) p += 16 // access/mod/change/birth times
    if ((flags & 0x10) != 0) p += 4  // compact/dense phase thresholds
    val szBytes = 1 << (flags & 0x03)
    val chunk0 = szBytes match {
      case 1 => r.u8(p).toLong
      case 2 => r.u16(p).toLong
      case 4 => r.u32(p)
      case 8 => r.u64(p)
    }
    p += szBytes
    val msgHdr = if ((flags & 0x04) != 0) 6 else 4 // +creation order
    val out = Vector.newBuilder[(Int, Long, Int)]
    var regions = List((p, p + chunk0))
    while (regions.nonEmpty) {
      var (q, end) = regions.head
      regions = regions.tail
      while (q + msgHdr <= end) {
        val t = r.u8(q); val sz = r.u16(q + 1)
        val body = q + msgHdr
        if (t == 0x10) { // continuation: 'OCHK' + messages + checksum
          val coff = r.u64(body); val clen = r.u64(body + 8)
          if (r.ascii(coff, 4) != "OCHK") return Left("bad_ochk_signature")
          regions = (coff + 4, coff + clen - 4) :: regions
        } else if (t != 0) out += ((t, body, sz))
        q = body + sz
      }
    }
    Right(out.result())
  }

  /** Version dispatch: v1 headers start with the version byte 1,
    * v2 with the 'OHDR' signature. */
  private def headerMessagesAny(r: Rd, addr: Long):
      Either[String, Seq[(Int, Long, Int)]] =
    if (r.ascii(addr, 4) == "OHDR") headerMessagesV2(r, addr)
    else headerMessages(r, addr)

  /** Parse one link-message body (type 0x06) at `p` → (name,
    * objectHeaderAddr). Shared by the compact path (bodies inline in
    * the object header) and the DENSE path (bodies as fractal-heap
    * managed objects). Soft/external links quarantine (the
    * reference's datasets are hard-linked). */
  private def linkMessage(r: Rd, p: Long):
      Either[String, (String, Long)] = {
    if (r.u8(p) != 1) return Left("unsupported_link_version")
    val fl = r.u8(p + 1)
    var q = p + 2
    val ltype = if ((fl & 0x08) != 0) { val t = r.u8(q); q += 1; t }
      else 0
    if (ltype != 0) return Left("unsupported_link_type")
    if ((fl & 0x04) != 0) q += 8 // creation order
    if ((fl & 0x10) != 0) q += 1 // charset
    val lenSz = 1 << (fl & 0x03)
    val nameLen = lenSz match {
      case 1 => r.u8(q); case 2 => r.u16(q)
      case 4 => r.u32(q).toInt; case _ => r.u64(q).toInt
    }
    q += lenSz
    val name = r.ascii(q, nameLen)
    Right((name, r.u64(q + nameLen)))
  }

  /** The (name, objectHeaderAddr) links of a NEW-STYLE group: link
    * messages (0x06) compact in the object header, or — when the
    * Link Info message carries a fractal-heap address (what libhdf5
    * writes past its 8-link dense threshold) — (r13) the DENSE
    * storage walk via [[denseLinks]]. */
  private def compactLinks(r: Rd, msgs: Seq[(Int, Long, Int)]):
      Either[String, Seq[(String, Long)]] = {
    msgs.find(_._1 == 0x02).foreach { case (_, p, _) =>
      // Link Info v0: version, flags, [max creation index u64 if
      // flags&1], fractal heap addr, name B-tree addr
      val fl = r.u8(p + 1)
      val base = p + 2 + (if ((fl & 1) != 0) 8 else 0)
      val fh = r.u64(base)
      val nameBt = r.u64(base + 8)
      if (!isUndef(fh)) return denseLinks(r, fh, nameBt)
    }
    val out = Vector.newBuilder[(String, Long)]
    msgs.filter(_._1 == 0x06).foreach { case (_, p, _) =>
      linkMessage(r, p) match {
        case Left(e) => return Left(e)
        case Right(l) => out += l
      }
    }
    Right(out.result())
  }

  /** Element counts of the index-block-DIRECT data blocks of an
    * extensible array: super-block class u holds 2^⌊u/2⌋ data blocks
    * of 2^⌈u/2⌉·dblkMin elements; the first 2·(sblkMinPtrs−1) data
    * blocks are addressed from the index block. Shared by encoder
    * and decoder (a drift would still refuse loudly on the 'EADB'
    * signature checks). */
  private def eaDirectGeometry(dblkMin: Int,
      sblkMinPtrs: Int): IndexedSeq[Int] = {
    val nDirect = 2 * (sblkMinPtrs - 1)
    val out = Vector.newBuilder[Int]
    var u = 0; var counted = 0
    while (counted < nDirect) {
      val cnt = 1 << (u / 2)
      val ne = (1 << ((u + 1) / 2)) * dblkMin
      var k = 0
      while (k < cnt && counted < nDirect) {
        out += ne; counted += 1; k += 1
      }
      u += 1
    }
    out.result()
  }

  /** Extensible Array chunk index (layout v4 indexing type 4 — the
    * 1-unlimited-dim case, e.g. a NetCDF-4 unlimited time axis):
    * EAHD header → EAIB index block, whose element space is the
    * spec's doubling geometry — `idxBlkElmts` elements stored
    * directly in the index block, then data blocks addressed from
    * the index block (super-block class u holds 2^⌊u/2⌋ data blocks
    * of 2^⌈u/2⌉·minElmts elements; the first 2·(sblkMinPtrs−1) data
    * blocks are index-block-direct), each an 'EADB' block. Elements
    * past the direct data blocks live in super blocks — quarantined
    * by name, as are paged data blocks. Every block's signature is
    * checked, so a mis-derived geometry refuses loudly rather than
    * misreading. Returns per-chunk (address, nbytes, filterMask) in
    * linear order; 0/undef addresses mean unallocated chunks. */
  private def decodeExtensibleArray(r: Rd, eaAddr: Long,
      plainBytes: Long, filtered: Boolean, want: Long):
      Either[String, IndexedSeq[(Long, Long, Long)]] = {
    if (r.ascii(eaAddr, 4) != "EAHD")
      return Left("bad_extensible_array_header")
    if (r.u8(eaAddr + 4) != 0)
      return Left("unsupported_extensible_array_version")
    val client = r.u8(eaAddr + 5)
    if ((client == 1) != filtered)
      return Left("extensible_array_client_mismatch")
    val elmtSize = r.u8(eaAddr + 6)
    val maxBits = r.u8(eaAddr + 7)
    val idxElmts = r.u8(eaAddr + 8)
    val dblkMin = r.u8(eaAddr + 9)
    val sblkMinPtrs = r.u8(eaAddr + 10)
    val pageBits = r.u8(eaAddr + 11)
    // 6 stats Length fields at 12..60, index block address at 60,
    // checksum at 68; capacity (`want`, the caller's chunk count)
    // drives the walk — unallocated trailing chunks are fill
    val iblk = r.u64(eaAddr + 60)
    if (isUndef(iblk)) return Left("empty_extensible_array")
    if (r.ascii(iblk, 4) != "EAIB")
      return Left("bad_extensible_array_index_block")
    if (r.u8(iblk + 4) != 0 || r.u8(iblk + 5) != client ||
      r.u64(iblk + 6) != eaAddr)
      return Left("bad_extensible_array_index_block")
    val szLen = if (filtered) elmtSize - 12 else 0
    if (filtered && (szLen < 1 || szLen > 8))
      return Left("bad_extensible_array_element_size")
    if (!filtered && elmtSize != 8)
      return Left("bad_extensible_array_element_size")
    def elemAt(q: Long): (Long, Long, Long) = {
      val addr = r.u64(q)
      if (!filtered) (addr, plainBytes, 0L)
      else {
        var nb = 0L; var k = 0
        while (k < szLen) { nb |= r.u8(q + 8 + k).toLong << (8 * k); k += 1 }
        (addr, nb, r.u32(q + 8 + szLen))
      }
    }
    val arrOffSize = (maxBits + 7) / 8
    val nDirectDblks = 2 * (sblkMinPtrs - 1)
    val geometry = eaDirectGeometry(dblkMin, sblkMinPtrs)
    val out = IndexedSeq.newBuilder[(Long, Long, Long)]
    var i = 0L
    var q = iblk + 14 // elements stored directly in the index block
    while (i < math.min(want, idxElmts.toLong)) {
      out += elemAt(q); q += elmtSize; i += 1
    }
    if (want > idxElmts) {
      val dblkAddrs = (0 until nDirectDblks).map(k =>
        r.u64(iblk + 14 + idxElmts.toLong * elmtSize + k * 8L))
      var remaining = want - idxElmts
      var d = 0
      while (remaining > 0 && d < geometry.size) {
        val ne = geometry(d)
        if (ne > (1L << pageBits)) // libhdf5 never pages the
          return Left("ea_paged_direct_block_unsupported") // direct range
        val inBlk = math.min(ne.toLong, remaining)
        val db = dblkAddrs(d)
        if (isUndef(db) || db == 0) { // whole block unallocated
          var k = 0L
          while (k < inBlk) { out += ((Undef, 0L, 0L)); k += 1 }
        } else {
          if (r.ascii(db, 4) != "EADB")
            return Left("bad_extensible_array_data_block")
          if (r.u8(db + 4) != 0 || r.u8(db + 5) != client ||
            r.u64(db + 6) != eaAddr)
            return Left("bad_extensible_array_data_block")
          val base = db + 14 + arrOffSize
          var k = 0L
          while (k < inBlk) { out += elemAt(base + k * elmtSize); k += 1 }
        }
        remaining -= inBlk
        d += 1
      }
      // past the index-block-direct range: SUPER BLOCKS ('EASB') —
      // class u holds 2^⌊u/2⌋ data blocks of 2^⌈u/2⌉·dblkMin
      // elements; the index block's super-block address list starts
      // at class 2·log2(sblkMinPtrs) (the classes below it are the
      // direct data blocks above). A data block whose element count
      // exceeds 2^pageBits is PAGED: its on-disk prefix is
      // sig/ver/client/hdr/offset + own checksum, and pages of
      // 2^pageBits elements + per-page checksum follow; the super
      // block carries a page-init bitmap (dblk-major, LSB-first
      // within bytes — the same bit convention pinned for the
      // fixed-array page bitmap; no in-container libhdf5 ground
      // truth exists, so the convention is round-trip-pinned like
      // lookup3). Uninitialized pages and unallocated blocks emit
      // (Undef,0,0) → fill, never a read from offset 0.
      if (remaining > 0) {
        val nsblksTotal = 1 + (maxBits - log2gen(dblkMin.toLong))
        val firstSblkClass = 2 * log2gen(sblkMinPtrs.toLong)
        val nsblkAddrs = nsblksTotal - firstSblkClass
        val sblkAddrBase =
          iblk + 14 + idxElmts.toLong * elmtSize + nDirectDblks * 8L
        val pageElmts = 1L << pageBits
        var u = firstSblkClass
        var s = 0
        while (remaining > 0) {
          if (s >= nsblkAddrs) return Left("ea_geometry_overflow")
          val nd = 1 << (u / 2)
          val ne = (1 << ((u + 1) / 2)) * dblkMin
          val inSblk = math.min(nd.toLong * ne, remaining)
          val sbAddr = r.u64(sblkAddrBase + s * 8L)
          if (isUndef(sbAddr) || sbAddr == 0) {
            var k = 0L
            while (k < inSblk) { out += ((Undef, 0L, 0L)); k += 1 }
          } else {
            if (r.ascii(sbAddr, 4) != "EASB" || r.u8(sbAddr + 4) != 0 ||
              r.u8(sbAddr + 5) != client || r.u64(sbAddr + 6) != eaAddr)
              return Left("bad_extensible_array_super_block")
            val paged = ne > pageElmts
            val npages = if (paged) (ne / pageElmts).toInt else 0
            val bmpOff = sbAddr + 14 + arrOffSize
            val bmpBytes = if (paged) (nd * npages + 7) / 8 else 0
            val dbAddrBase = bmpOff + bmpBytes
            var k = 0
            var left = inSblk
            while (k < nd && left > 0) {
              val inBlk = math.min(ne.toLong, left)
              val db = r.u64(dbAddrBase + k * 8L)
              if (isUndef(db) || db == 0) {
                var j = 0L
                while (j < inBlk) { out += ((Undef, 0L, 0L)); j += 1 }
              } else {
                if (r.ascii(db, 4) != "EADB" || r.u8(db + 4) != 0 ||
                  r.u8(db + 5) != client || r.u64(db + 6) != eaAddr)
                  return Left("bad_extensible_array_data_block")
                if (!paged) {
                  val base = db + 14 + arrOffSize
                  var j = 0L
                  while (j < inBlk) { out += elemAt(base + j * elmtSize); j += 1 }
                } else {
                  val pageBytes = pageElmts * elmtSize + 4
                  val pagesBase = db + 14 + arrOffSize + 4 // prefix + own cksum
                  var j = 0L
                  while (j < inBlk) {
                    val pg = (j / pageElmts).toInt
                    val bit = k * npages + pg
                    val init =
                      (r.u8(bmpOff + bit / 8) & (1 << (bit % 8))) != 0
                    out += (if (init)
                      elemAt(pagesBase + pg * pageBytes +
                        (j % pageElmts) * elmtSize)
                    else (Undef, 0L, 0L))
                    j += 1
                  }
                }
              }
              left -= inBlk
              k += 1
            }
          }
          remaining -= inSblk
          u += 1
          s += 1
        }
      }
    }
    Right(out.result())
  }

  /** The v2-B-tree node geometry libhdf5 derives from (node size,
    * record size) — H5B2__hdr_init: per level u, the max record
    * count, the cumulative subtree capacity, and the byte widths of
    * the two variable-size pointer fields (`node_nrec` always in
    * `limit_enc_size(leaf max)` bytes; `all_nrec` — present only in
    * pointers BELOW depth-1 internals — in
    * `limit_enc_size(cum_max_nrec[u−1])` bytes). Arrays index by
    * level, 0 = leaf. */
  private[graft] case class Bt2Geom(recSize: Int, maxNrec: Array[Long],
      cumMaxNrec: Array[Long], cumSize: Array[Int], nrecSize: Int) {
    /** pointer width inside an internal node at level u ≥ 1 */
    def ptrSize(u: Int): Int = 8 + nrecSize + cumSize(u - 1)
  }
  private[graft] def bt2Geom(nodeSize: Long, recSize: Int,
      depth: Int): Option[Bt2Geom] = {
    if (recSize <= 0 || nodeSize < 10 + recSize) return None
    val maxNrec = new Array[Long](depth + 1)
    val cumMaxNrec = new Array[Long](depth + 1)
    val cumSize = new Array[Int](depth + 1)
    maxNrec(0) = (nodeSize - 10) / recSize
    cumMaxNrec(0) = maxNrec(0)
    cumSize(0) = 0
    val nrecSize = log2gen(maxNrec(0)) / 8 + 1 // limit_enc_size
    var u = 1
    while (u <= depth) {
      val ps = 8 + nrecSize + cumSize(u - 1)
      if (nodeSize < 10 + ps + recSize + ps) return None
      maxNrec(u) = (nodeSize - (10 + ps)) / (recSize + ps)
      cumMaxNrec(u) = (maxNrec(u) + 1) * cumMaxNrec(u - 1) + maxNrec(u)
      cumSize(u) = log2gen(cumMaxNrec(u)) / 8 + 1
      u += 1
    }
    Some(Bt2Geom(recSize, maxNrec, cumMaxNrec, cumSize, nrecSize))
  }

  /** Walk a version-2 B-tree of the expected record type → (record
    * size, byte position of every record, tree order), to ANY depth
    * (r16 — depth 0's root-is-leaf, depth 1's BTIN-over-leaves, and
    * the general recursion past it): internal images are
    * records-then-pointers (spec III.A.2 / H5B2__cache_int
    * _serialize), each pointer = child address + the child's record
    * count in the derived `max_nrec_size` width + (below depth-1
    * internals only) the child SUBTREE's total record count in the
    * level's derived cumulative width — all widths from [[bt2Geom]],
    * exactly libhdf5's tables, so a file written with real node
    * capacities parses without guesswork. Records emit IN-ORDER
    * (child 0, separator 0, child 1, …); counts over the level's
    * capacity, signature/type lies and subtree-count disagreements
    * refuse by name. Shared by [[denseLinks]] (type 5) and the
    * layout-v4 chunk index (types 10/11). */
  private def btree2Records(r: Rd, btAddr: Long, wantType: Int):
      Either[String, (Int, IndexedSeq[Long])] = {
    if (r.ascii(btAddr, 4) != "BTHD") return Left("bad_btree2_header")
    if (r.u8(btAddr + 4) != 0) return Left("unsupported_btree2_version")
    if (r.u8(btAddr + 5) != wantType) return Left("unexpected_btree2_type")
    val nodeSize = r.u32(btAddr + 6)
    val recSize = r.u16(btAddr + 10)
    val depth = r.u16(btAddr + 12)
    if (depth > 8) return Left("btree2_depth_unsupported")
    val rootNode = r.u64(btAddr + 16)
    val nRec = r.u16(btAddr + 24)
    val geom = bt2Geom(nodeSize, recSize, depth) match {
      case None => return Left("bad_btree2_header")
      case Some(g) => g
    }
    val out = IndexedSeq.newBuilder[Long]
    def varU(at: Long, bytes: Int): Long = {
      var v = 0L; var k = 0
      while (k < bytes) { v |= r.u8(at + k).toLong << (8 * k); k += 1 }
      v
    }
    // returns the subtree's total record count for the parent's
    // all_nrec cross-check
    def walk(addr: Long, level: Int, n: Int): Either[String, Long] = {
      if (level == 0) {
        if (r.ascii(addr, 4) != "BTLF" || r.u8(addr + 4) != 0 ||
            r.u8(addr + 5) != wantType) return Left("bad_btree2_leaf")
        out ++= (0 until n).map(i => addr + 6 + i.toLong * recSize)
        Right(n.toLong)
      } else {
        if (r.ascii(addr, 4) != "BTIN" || r.u8(addr + 4) != 0 ||
            r.u8(addr + 5) != wantType) return Left("bad_btree2_internal")
        val recsAt = addr + 6
        val ptrsAt = recsAt + n.toLong * recSize
        val ps = geom.ptrSize(level)
        var total = n.toLong
        var i = 0
        while (i <= n) {
          val pAt = ptrsAt + i.toLong * ps
          val childAddr = r.u64(pAt)
          val nChild = varU(pAt + 8, geom.nrecSize)
          if (nChild > geom.maxNrec(level - 1))
            return Left("bad_btree2_internal")
          val claimed =
            if (level >= 2) varU(pAt + 8 + geom.nrecSize,
              geom.cumSize(level - 1))
            else nChild
          walk(childAddr, level - 1, nChild.toInt) match {
            case Left(e) => return Left(e)
            case Right(got) =>
              if (got != claimed) return Left("bad_btree2_subtree_count")
              total += got
          }
          if (i < n) out += recsAt + i.toLong * recSize
          i += 1
        }
        Right(total)
      }
    }
    // the ROOT's own record count gets the same capacity cross-check
    // every child pointer gets — a lying root count must refuse by
    // name, not read past the node image into the catch-all
    if (nRec > geom.maxNrec(depth)) return Left("bad_btree2_header")
    walk(rootNode, depth, nRec) match {
      case Left(e) => Left(e)
      case Right(_) => Right((recSize, out.result()))
    }
  }

  /** DENSE group storage (the 1.8+ form past 8 links): the link
    * messages live as MANAGED OBJECTS in a fractal heap ('FRHP'
    * header → root 'FHDB' direct block) and are found through the
    * name-index version-2 B-tree ('BTHD' → 'BTLF' leaf of type-5
    * records, each 4-byte Jenkins-lookup3 name hash + heap ID).
    * Decodes dense groups from the single-root-direct form through
    * root-indirect (r15), NESTED-indirect and FILTERED (r16) fractal
    * heaps, the name index at any B-tree depth; huge/tiny heap
    * objects quarantine by name. Every record's
    * name hash is re-derived from the decoded name with the same
    * spec-pinned lookup3 — a heap/B-tree disagreement cannot decode
    * silently. */
  private def denseLinks(r: Rd, fhAddr: Long, btAddr: Long):
      Either[String, Seq[(String, Long)]] = {
    // --- fractal heap header ---
    if (r.ascii(fhAddr, 4) != "FRHP") return Left("bad_fractal_heap")
    if (r.u8(fhAddr + 4) != 0)
      return Left("unsupported_fractal_heap_version")
    val idLen = r.u16(fhAddr + 5)
    val filterLen = r.u16(fhAddr + 7)
    // flags(1) at 9, maxManSize(4) at 10, then the 13 length/address
    // stats fields (8 bytes each) at 14..110, then the doubling table
    val nHuge = r.u64(fhAddr + 86)
    val nTiny = r.u64(fhAddr + 102)
    if (nHuge != 0 || nTiny != 0)
      return Left("huge_or_tiny_heap_objects_unsupported")
    val tableWidth = r.u16(fhAddr + 110)
    val startBlock = r.u64(fhAddr + 112)
    val maxDirect = r.u64(fhAddr + 120)
    val maxHeapBits = r.u16(fhAddr + 128)
    val rootAddr = r.u64(fhAddr + 132)
    val currRows = r.u16(fhAddr + 140)
    // FILTERED heap (r16): the header grows three fields after the
    // root-rows count — the filtered ROOT direct block's stored size
    // (length, 8), its filter mask (4), and the I/O filter pipeline
    // message (filterLen bytes, v1 or v2). Direct blocks then live
    // compressed on disk (the WHOLE image, header included — libhdf5
    // filters before its cache serializes) and indirect-block DIRECT
    // entries widen to (address, stored size, mask). Deflate (id 1)
    // decodes; anything else refuses by name.
    val filtered = filterLen > 0
    var rootCsize = 0L
    var rootMask = 0L
    var heapFilters: Seq[(Int, Seq[Long])] = Nil
    if (filtered) {
      rootCsize = r.u64(fhAddr + 142)
      rootMask = r.u32(fhAddr + 150)
      heapFilters = parsePipeline(r, fhAddr + 154) match {
        case Left(e) => return Left(e); case Right(f) => f
      }
      if (heapFilters.isEmpty || !heapFilters.forall(_._1 == 1))
        return Left("unsupported_heap_filter")
    }
    if (isUndef(rootAddr)) return Left("empty_fractal_heap")
    val offSize = (maxHeapBits + 7) / 8
    val lenSize = idLen - 1 - offSize
    if (lenSize < 1 || lenSize > 8) return Left("bad_heap_id_length")
    if (tableWidth <= 0 || startBlock <= 0 || maxDirect < startBlock ||
        java.lang.Long.bitCount(startBlock) != 1 ||
        java.lang.Long.bitCount(maxDirect) != 1)
      return Left("bad_heap_doubling_table")
    // --- locate every DIRECT block as (heap offset, file address,
    // size). currRows == 0: the root IS a direct block at heap
    // offset 0 (sized startBlock). currRows > 0 (r15): the root is
    // an INDIRECT block ('FHIB') — the group outgrew one block —
    // whose child rows follow the doubling-table geometry: rows 0-1
    // at startBlock, row k ≥ 2 at startBlock·2^(k-1), tableWidth
    // blocks per row, heap offsets assigned by the SLOT grid whether
    // or not a slot is allocated. Rows at or past the max-direct-size
    // rung hold NESTED indirect blocks (r16 — the multi-GB-heap form,
    // File Format Spec III.G / libhdf5 H5HF__man_dblock_locate): a
    // child in row k covers exactly that row's block span and carries
    // k − log2(width) rows of its own, numbered from 0 again (the
    // dtable lookup recurses on the span-relative offset), so the
    // child's slot grid tiles its span and global heap offsets stay
    // linear in DFS order. Every FHIB — root and nested — must state
    // its span-start block offset or refuse (bad_heap_block_offset);
    // nested geometry requires the spec's power-of-two table width. ---
    case class DBlk(heapOff: Long, addr: Long, size: Long,
        csize: Long, mask: Long)
    val maxDirectRows = log2gen(maxDirect) - log2gen(startBlock) + 2
    val widthBits = java.lang.Integer.numberOfTrailingZeros(tableWidth)
    val blocksB = IndexedSeq.newBuilder[DBlk]
    def walkIndirect(addr: Long, blockOff: Long, nrows: Int,
        depth: Int): Option[String] = {
      if (depth > 16) return Some("bad_heap_doubling_table")
      if (r.ascii(addr, 4) != "FHIB")
        return Some("bad_heap_indirect_block")
      if (r.u8(addr + 4) != 0)
        return Some("unsupported_heap_block_version")
      if (r.u64(addr + 5) != fhAddr)
        return Some("bad_heap_back_pointer")
      var storedOff = 0L; var k = 0
      while (k < offSize) {
        storedOff |= r.u8(addr + 13 + k).toLong << (8 * k); k += 1
      }
      if (storedOff != blockOff) return Some("bad_heap_block_offset")
      var p = addr + 13 + offSize
      var rel = 0L
      var row = 0
      while (row < nrows) {
        val rowSize = if (row < 2) startBlock else startBlock << (row - 1)
        var colI = 0
        while (colI < tableWidth) {
          if (row < maxDirectRows) {
            // filtered heaps widen DIRECT entries to (addr, size, mask)
            val a = r.u64(p); p += 8
            var cs = 0L; var mk = 0L
            if (filtered) { cs = r.u64(p); mk = r.u32(p + 8); p += 12 }
            if (!isUndef(a) && a != 0)
              blocksB += DBlk(blockOff + rel, a, rowSize, cs, mk)
          } else {
            val a = r.u64(p); p += 8
            if (!isUndef(a) && a != 0) {
              if (java.lang.Long.bitCount(tableWidth.toLong) != 1)
                return Some("bad_heap_doubling_table")
              val childRows = row - widthBits
              if (childRows < 1) return Some("bad_heap_doubling_table")
              val e = walkIndirect(a, blockOff + rel, childRows, depth + 1)
              if (e.isDefined) return e
            }
          }
          rel += rowSize
          colI += 1
        }
        row += 1
      }
      None
    }
    if (currRows == 0)
      blocksB += DBlk(0L, rootAddr, startBlock, rootCsize, rootMask)
    else walkIndirect(rootAddr, 0L, currRows, 0) match {
      case Some(e) => return Left(e)
      case None =>
    }
    val blocks: IndexedSeq[DBlk] = blocksB.result()
    if (blocks.isEmpty) return Left("empty_fractal_heap")
    // every allocated direct block — decompressed first for filtered
    // heaps (the whole image passes the pipeline; a set mask bit
    // means that filter was skipped for this block): signature,
    // version, back pointer AND its stored block-offset field must
    // equal the slot-grid offset (a misplaced block cannot pass
    // silently). Filtered images must also inflate to EXACTLY the
    // slot size. Each block yields the reader its objects resolve
    // through: (r, file address base) unfiltered, or an image-local
    // Rd for filtered blocks.
    val blockRd = new Array[(Rd, Long)](blocks.size)
    blocks.zipWithIndex.foreach { case (blk, bi) =>
      val (br, base) =
        if (!filtered) (r, blk.addr)
        else {
          // overflow-proof bounds (r17): the old `addr + csize >
          // length` form lets addr near Long.MaxValue wrap negative
          // and slip through to copyOfRange's silent Int truncation;
          // the subtraction form cannot overflow (csize > 0,
          // length ≤ Int.MaxValue), and in-bounds then implies both
          // endpoints fit an Int — refuse by name otherwise
          if (blk.csize <= 0 || blk.addr < 0 ||
              blk.addr > r.b.length.toLong - blk.csize)
            return Left("bad_heap_filtered_block")
          var raw = java.util.Arrays.copyOfRange(r.b,
            blk.addr.toInt, (blk.addr + blk.csize).toInt)
          try {
            heapFilters.zipWithIndex.reverse.foreach { case ((_, _), fi) =>
              if ((blk.mask & (1L << fi)) == 0) raw = inflate(raw)
            }
          } catch {
            case _: Exception => return Left("bad_heap_filtered_block")
          }
          if (raw.length != blk.size.toInt)
            return Left("bad_heap_filtered_block")
          (new Rd(raw), 0L)
        }
      if (br.ascii(base, 4) != "FHDB")
        return Left("bad_heap_direct_block")
      if (br.u8(base + 4) != 0)
        return Left("unsupported_heap_block_version")
      if (br.u64(base + 5) != fhAddr)
        return Left("bad_heap_back_pointer")
      var storedOff = 0L; var k = 0
      while (k < offSize) {
        storedOff |= br.u8(base + 13 + k).toLong << (8 * k); k += 1
      }
      if (storedOff != blk.heapOff) return Left("bad_heap_block_offset")
      blockRd(bi) = (br, base)
    }
    // a managed object's heap offset → (reader, position) via its block
    def heapResolve(off: Long): Either[String, (Rd, Long)] = {
      var lo = 0; var hi = blocks.size - 1
      while (lo < hi) { // blocks are heap-offset sorted by build
        val mid = (lo + hi + 1) / 2
        if (blocks(mid).heapOff <= off) lo = mid else hi = mid - 1
      }
      val b = blocks(lo)
      if (off >= b.heapOff && off < b.heapOff + b.size) {
        val (br, base) = blockRd(lo)
        Right((br, base + (off - b.heapOff)))
      } else Left("heap_offset_out_of_range")
    }
    // --- name-index v2 B-tree ---
    if (btAddr == 0 || isUndef(btAddr)) return Left("missing_name_index")
    val (recSize, recAt) = btree2Records(r, btAddr, wantType = 5) match {
      case Left(e) => return Left(e); case Right(x) => x
    }
    if (recSize != 4 + idLen) return Left("bad_btree2_record_size")
    val out = Vector.newBuilder[(String, Long)]
    var i = 0
    while (i < recAt.size) {
      val rec = recAt(i)
      val hash = r.u32(rec)
      val idB = rec + 4
      if ((r.u8(idB) & 0xF0) != 0) // version 0, type 0 = managed
        return Left("nonmanaged_heap_id_unsupported")
      var off = 0L; var k = 0
      while (k < offSize) { off |= r.u8(idB + 1 + k).toLong << (8 * k); k += 1 }
      var len = 0L; k = 0
      while (k < lenSize) {
        len |= r.u8(idB + 1 + offSize + k).toLong << (8 * k); k += 1
      }
      if (len <= 0) return Left("bad_heap_object_length")
      val (objRd, objAt) = heapResolve(off) match {
        case Left(e) => return Left(e); case Right(a) => a
      }
      linkMessage(objRd, objAt) match {
        case Left(e) => return Left(e)
        case Right((name, oh)) =>
          val nb = name.getBytes("US-ASCII")
          if ((lookup3(nb, 0, nb.length, 0) & 0xFFFFFFFFL) != hash)
            return Left("bad_link_name_hash")
          out += ((name, oh))
      }
      i += 1
    }
    Right(out.result())
  }

  /** The symbol-table entries (name, objectHeaderAddr) reachable from
    * a group B-tree v1 node. */
  private def walkGroupBtree(r: Rd, btAddr: Long, heapData: Long):
      Either[String, Seq[(String, Long)]] = {
    if (r.ascii(btAddr, 4) != "TREE") return Left("bad_group_btree")
    val level = r.u8(btAddr + 5)
    val n = r.u16(btAddr + 6)
    val out = Vector.newBuilder[(String, Long)]
    // children at btAddr+24 + key0(8): child_i at offset 24 + 8 + i*16
    var i = 0
    while (i < n) {
      val child = r.u64(btAddr + 24 + 8 + i * 16)
      if (level > 0) walkGroupBtree(r, child, heapData) match {
        case Left(e) => return Left(e)
        case Right(s) => out ++= s
      } else {
        if (r.ascii(child, 4) != "SNOD") return Left("bad_snod")
        val ns = r.u16(child + 6)
        var j = 0
        while (j < ns) {
          val ste = child + 8 + j * 40L
          out += ((r.cstr(heapData + r.u64(ste)), r.u64(ste + 8)))
          j += 1
        }
      }
      i += 1
    }
    Right(out.result())
  }

  /** Filter Pipeline message body (version 1 — classic, 8-padded
    * names, value-count padding — AND version 2, the latest-format
    * packing where standard filters < 256 omit the name length) →
    * (filter id, client values) in pipeline order. Shared by the
    * dataset path and (r16) the filtered-fractal-heap header. */
  private def parsePipeline(r: Rd, p0: Long):
      Either[String, Seq[(Int, Seq[Long])]] = {
    val ver = r.u8(p0)
    if (ver != 1 && ver != 2)
      return Left("unsupported_filter_pipeline_version")
    val nf = r.u8(p0 + 1)
    var q = p0 + (if (ver == 1) 8 else 2)
    val out = Seq.newBuilder[(Int, Seq[Long])]
    var i = 0
    while (i < nf) {
      val id = r.u16(q); q += 2
      val nameLen =
        if (ver == 1 || id >= 256) { val n = r.u16(q); q += 2; n } else 0
      q += 2 // flags
      val ncv = r.u16(q); q += 2
      q += (if (ver == 1) (nameLen + 7) / 8 * 8 else nameLen)
      out += ((id, (0 until ncv).map(j => r.u32(q + j * 4L))))
      q += ncv * 4L
      if (ver == 1 && ncv % 2 == 1) q += 4
      i += 1
    }
    Right(out.result())
  }

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(data)
    val out = new java.io.ByteArrayOutputStream(data.length * 4)
    val buf = new Array[Byte](8192)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      if (n == 0 && inf.needsInput())
        throw new java.io.EOFException("truncated deflate")
      out.write(buf, 0, n)
    }
    inf.end(); out.toByteArray
  }

  /** Inverse of the HDF5 shuffle filter: input is elemSize byte
    * planes, output interleaved elements. */
  private def unshuffle(d: Array[Byte], elem: Int): Array[Byte] = {
    if (elem <= 1) return d
    val n = d.length / elem
    val out = new Array[Byte](d.length)
    var k = 0
    while (k < elem) {
      var i = 0
      while (i < n) { out(i * elem + k) = d(k * n + i); i += 1 }
      k += 1
    }
    // trailing bytes (length not divisible) copy through
    var t = n * elem
    while (t < d.length) { out(t) = d(t); t += 1 }
    out
  }

  /** Decode every dataset of an HDF5 file. */
  private[graft] def decodeH5(bytes: Array[Byte]):
      Either[String, Seq[H5Dataset]] = try {
    val r = new Rd(bytes)
    val base = Seq(0L, 512L, 1024L, 2048L).find(o =>
      o + 8 <= bytes.length &&
        java.util.Arrays.equals(bytes.slice(o.toInt, o.toInt + 8), Sig))
      .getOrElse(return Left("bad_signature"))
    val entriesE: Either[String, Seq[(String, Long)]] =
      r.u8(base + 8) match {
        case 0 =>
          if (r.u8(base + 13) != 8 || r.u8(base + 14) != 8)
            return Left("unsupported_offset_size")
          // superblock v0 fixed part is 24 bytes, then 4 file
          // addresses (base, free-space, EOF, driver info) → the root
          // group's symbol table entry starts at base+56; its object
          // header address is the entry's second field
          val rootHdr = r.u64(base + 56 + 8)
          headerMessages(r, rootHdr).flatMap { msgs =>
            val st = msgs.find(_._1 == 0x0011).getOrElse(
              return Left("missing_symbol_table"))
            val btAddr = r.u64(st._2)
            val heapAddr = r.u64(st._2 + 8)
            if (r.ascii(heapAddr, 4) != "HEAP") return Left("bad_local_heap")
            val heapData = r.u64(heapAddr + 24)
            walkGroupBtree(r, btAddr, heapData)
          }
        case 2 | 3 =>
          // v2/v3 (the 1.8+/1.10+ "latest" format): 12-byte fixed
          // part, then base / superblock-extension / EOF / root
          // OBJECT HEADER addresses + checksum. The root is a
          // NEW-STYLE group: its links are messages in the header
          // (compact) — fractal-heap (dense) storage quarantines.
          if (r.u8(base + 9) != 8 || r.u8(base + 10) != 8)
            return Left("unsupported_offset_size")
          val rootHdr = r.u64(base + 36)
          headerMessagesAny(r, rootHdr).flatMap(compactLinks(r, _))
        case _ => return Left("unsupported_superblock_version")
      }
    entriesE.flatMap { entries =>
      val ds = entries.sortBy(_._1).map { case (name, oh) =>
        decodeDataset(r, name, oh) match {
          case Left(e) => return Left(s"$name:$e")
          case Right(d) => d
        }
      }
      Right(ds.flatten)
    }
  } catch { case _: Exception => Left("malformed_file") }

  private def decodeDataset(r: Rd, name: String, oh: Long):
      Either[String, Seq[H5Dataset]] = {
    val msgs = headerMessagesAny(r, oh) match {
      case Left(e) => return Left(e); case Right(m) => m
    }
    // dataspace: v1 (reserved padding, dims at +8) or the latest-
    // format v2 (type byte, dims at +4)
    val sp = msgs.find(_._1 == 0x0001).getOrElse(
      return Left("missing_dataspace"))
    val (rank, dimsOff) = r.u8(sp._2) match {
      case 1 => (r.u8(sp._2 + 1), sp._2 + 8)
      case 2 => (r.u8(sp._2 + 1), sp._2 + 4)
      case _ => return Left("unsupported_dataspace_version")
    }
    val dims = (0 until rank).map(i => r.u64(dimsOff + i * 8L).toInt)
    val nElems = dims.product max 1
    // datatype
    val dt = msgs.find(_._1 == 0x0003).getOrElse(
      return Left("missing_datatype"))
    // scalar numerics/strings decode as one channel; compound
    // datasets as one channel per member ((suffix, byteOff, kind))
    var strPad = 0
    val (members, elem): (Seq[(String, Int, String)], Int) =
      if ((r.u8(dt._2) & 0x0F) == 6)
        parseCompound(r, dt._2) match {
          case Left(e) => return Left(e)
          case Right((sz, ms)) =>
            (ms.map { case (n, o, k) => (s".$n", o, k) }, sz)
        }
      else parseDtype(r, dt._2) match {
        case Left(e) => return Left(e)
        case Right((k, sz, pad)) => strPad = pad; (Seq(("", 0, k)), sz)
      }
    def isStrKind(k: String) = k == "vs" || k.startsWith("s")
    // filters
    val filters: Seq[(Int, Seq[Long])] = msgs.find(_._1 == 0x000B) match {
      case None => Nil
      case Some((_, p, _)) => parsePipeline(r, p) match {
        case Left(e) => return Left(e); case Right(f) => f
      }
    }
    if (!filters.forall(f => f._1 == 1 || f._1 == 2))
      return Left("unsupported_filter")
    // attributes
    val attrs = msgs.filter(_._1 == 0x000C).flatMap { case (_, p, _) =>
      decodeAttr(r, p)
    }
    // layout: v3 (classic + most 1.8 files) and v4 (the 1.10+ latest
    // format's chunk-index generation). Compact and contiguous bodies
    // are byte-identical across the two versions; chunked differs —
    // v3 routes through the chunk B-tree v1, v4 through its Chunk
    // Indexing Type (single chunk / implicit / fixed array decoded
    // here; extensible array and v2 B-tree quarantine by name).
    val lo = msgs.find(_._1 == 0x0008).getOrElse(return Left("missing_layout"))
    val loVer = r.u8(lo._2)
    if (loVer != 3 && loVer != 4) return Left("unsupported_layout_version")
    val nVals = members.map(m =>
      if (isStrKind(m._3)) null else new Array[Double](nElems)).toArray
    val sVals = members.map(m =>
      if (isStrKind(m._3)) new Array[String](nElems) else null).toArray
    // a vlen element whose heap ID doesn't resolve poisons the decode
    // (checked after the layout walk — the walk itself can't early-out)
    var vlenErr: String = null
    def putElem(gi: Int, rr: Rd, base: Long): Unit = {
      var m = 0
      while (m < members.length) {
        val (_, off, k) = members(m)
        if (k == "vs") vlenStrAt(rr, base + off, r) match {
          case Right(s) => sVals(m)(gi) = s
          case Left(e) => if (vlenErr == null) vlenErr = e
        }
        else if (k.charAt(0) == 's')
          sVals(m)(gi) = strAt(rr, base + off, kindElem(k), strPad)
        else nVals(m)(gi) = numAt(rr, base + off, k)
        m += 1
      }
    }
    val strides = dims.scanRight(1)(_ * _).drop(1) // row-major
    // pipeline applies in reverse on read; a set mask bit means the
    // filter was SKIPPED for this chunk
    def defilter(raw0: Array[Byte], mask: Long): Array[Byte] = {
      var raw = raw0
      filters.zipWithIndex.reverse.foreach { case ((id, _), fi) =>
        if ((mask & (1L << fi)) == 0) raw = id match {
          case 1 => inflate(raw)
          case 2 => unshuffle(raw, elem)
        }
      }
      raw
    }
    def scatterChunk(raw: Array[Byte], off: Seq[Int],
        chunkDims: Seq[Int]): Unit = {
      val cStrides = chunkDims.scanRight(1)(_ * _).drop(1)
      val cElems = chunkDims.product
      val rr = new Rd(raw)
      var j = 0
      while (j < cElems) {
        val coords = (0 until rank).map(d =>
          off(d) + (j / cStrides(d)) % chunkDims(d))
        if (coords.zip(dims).forall { case (c, dm) => c < dm }) {
          val gi = coords.zip(strides).map(p => p._1 * p._2).sum
          putElem(gi, rr, j.toLong * elem)
        }
        j += 1
      }
    }
    def chunkAt(addr: Long, nbytes: Long): Array[Byte] =
      java.util.Arrays.copyOfRange(r.b, addr.toInt, (addr + nbytes).toInt)
    r.u8(lo._2 + 1) match {
      case 1 => // contiguous
        val addr = r.u64(lo._2 + 2)
        if (isUndef(addr)) return Left("data_not_allocated")
        var i = 0
        while (i < nElems) {
          putElem(i, r, addr + i.toLong * elem); i += 1
        }
      case 2 if loVer == 3 => // chunked: B-tree v1 node type 1
        val cRank = r.u8(lo._2 + 2) // rank + 1
        if (cRank != rank + 1) return Left("bad_chunk_rank")
        val btAddr = r.u64(lo._2 + 3)
        val chunkDims = (0 until rank).map(i => r.u32(lo._2 + 11 + i * 4L).toInt)
        if (isUndef(btAddr)) return Left("data_not_allocated")
        def walk(node: Long): Either[String, Unit] = {
          if (r.ascii(node, 4) != "TREE" || r.u8(node + 4) != 1)
            return Left("bad_chunk_btree")
          val level = r.u8(node + 5)
          val n = r.u16(node + 6)
          val keySize = 8 + (rank + 1) * 8
          var i = 0
          while (i < n) {
            val key = node + 24 + i.toLong * (keySize + 8)
            val child = key + keySize
            if (level > 0) walk(r.u64(child)) match {
              case l @ Left(_) => return l; case _ => ()
            } else {
              val nbytes = r.u32(key)
              val mask = r.u32(key + 4)
              val off = (0 until rank).map(d => r.u64(key + 8 + d * 8L).toInt)
              scatterChunk(defilter(chunkAt(r.u64(child), nbytes), mask),
                off, chunkDims)
            }
            i += 1
          }
          Right(())
        }
        walk(btAddr) match { case Left(e) => return Left(e); case _ => () }
      case 2 => // v4 chunked: flags, rank+1 dims (elem size last),
        // then the chunk indexing type
        var p = lo._2 + 2
        val cFlags = r.u8(p); p += 1
        val nd = r.u8(p); p += 1
        if (nd != rank + 1) return Left("bad_chunk_rank")
        val encLen = r.u8(p); p += 1
        if (encLen != 1 && encLen != 2 && encLen != 4 && encLen != 8)
          return Left("bad_chunk_dim_encoding")
        def dimAt(q: Long): Long = encLen match {
          case 1 => r.u8(q).toLong
          case 2 => r.u16(q).toLong
          case 4 => r.u32(q)
          case _ => r.u64(q)
        }
        val allDims = (0 until nd).map(i => dimAt(p + i.toLong * encLen))
        p += nd.toLong * encLen
        if (allDims.last != elem) return Left("bad_chunk_elem_size")
        val chunkDims = allDims.init.map(_.toInt)
        if (chunkDims.exists(_ <= 0)) return Left("bad_chunk_dims")
        val cElems = chunkDims.product
        val grid = dims.zip(chunkDims).map { case (n, c) => (n + c - 1) / c }
        val gStrides = grid.scanRight(1)(_ * _).drop(1)
        def chunkOff(ci: Int): Seq[Int] =
          (0 until rank).map(d => ci / gStrides(d) % grid(d) * chunkDims(d))
        val idxType = r.u8(p); p += 1
        idxType match {
          case 1 => // single chunk covering the whole dataset
            val (nbytes, mask) =
              if ((cFlags & 0x02) != 0) { // filtered: size + mask precede
                val nb = r.u64(p); val m = r.u32(p + 8); p += 12; (nb, m)
              } else (cElems.toLong * elem, 0L)
            val addr = r.u64(p)
            if (isUndef(addr)) return Left("data_not_allocated")
            if (grid.product != 1) return Left("bad_single_chunk_dims")
            scatterChunk(defilter(chunkAt(addr, nbytes), mask),
              Seq.fill(rank)(0), chunkDims)
          case 2 => // implicit: unfiltered chunks at fixed stride
            if (filters.nonEmpty) return Left("implicit_index_filtered")
            val addr = r.u64(p)
            if (isUndef(addr)) return Left("data_not_allocated")
            val csz = cElems.toLong * elem
            var ci = 0
            while (ci < grid.product) {
              scatterChunk(chunkAt(addr + ci * csz, csz),
                chunkOff(ci), chunkDims)
              ci += 1
            }
          case 3 => // fixed array: FAHD header → FADB data block
            p += 1 // max data-block page bits (FAHD restates it)
            val faAddr = r.u64(p)
            if (isUndef(faAddr)) return Left("data_not_allocated")
            decodeFixedArray(r, faAddr, cElems.toLong * elem) match {
              case Left(e) => return Left(e)
              case Right(els) =>
                if (els.size < grid.product)
                  return Left("bad_fixed_array_entries")
                var ci = 0
                while (ci < grid.product) {
                  val (addr, nb, mask) = els(ci)
                  // unallocated chunk (undef OR zero address — libhdf5
                  // never places a chunk at offset 0) → fill value,
                  // matching the extensible-array guard
                  if (!isUndef(addr) && addr != 0)
                    scatterChunk(defilter(chunkAt(addr, nb), mask),
                      chunkOff(ci), chunkDims)
                  ci += 1
                }
            }
          case 4 => // extensible array (the 1-unlimited-dim index)
            p += 5 // max-nelmts-bits, index-elmts, dblk-min-elmts,
                   // sblk-min-ptrs, dblk-page-bits (EAHD restates)
            val eaAddr = r.u64(p)
            if (isUndef(eaAddr)) return Left("data_not_allocated")
            val filtered = filters.nonEmpty
            val chunkBytes = cElems.toLong * elem
            decodeExtensibleArray(r, eaAddr, chunkBytes, filtered,
              grid.product.toLong) match {
              case Left(e) => return Left(e)
              case Right(els) =>
                if (els.size < grid.product)
                  return Left("bad_extensible_array_entries")
                var ci = 0
                while (ci < grid.product) {
                  val (addr, nb, mask) = els(ci)
                  if (!isUndef(addr) && addr != 0)
                    scatterChunk(defilter(chunkAt(addr, nb), mask),
                      chunkOff(ci), chunkDims)
                  ci += 1
                }
            }
          case 5 => // v2 B-tree index: record type 10 (plain) / 11
            // (filtered) — address, [size + mask], SCALED offsets
            // (chunk-grid coordinates), depth-0 trees
            p += 6 // node size(4) + split(1) + merge(1) params
            val btA = r.u64(p)
            if (isUndef(btA)) return Left("data_not_allocated")
            val filtered = filters.nonEmpty
            val chunkBytes = cElems.toLong * elem
            val szLen = math.min(8, 1 + (log2gen(chunkBytes) + 8) / 8)
            btree2Records(r, btA, if (filtered) 11 else 10) match {
              case Left(e) => return Left(e)
              case Right((recSize, recs)) =>
                val expect = 8 + (if (filtered) szLen + 4 else 0) + rank * 8
                if (recSize != expect) return Left("bad_chunk_record_size")
                recs.foreach { rec =>
                  val addr = r.u64(rec)
                  var q = rec + 8
                  val (nb, mask) = if (filtered) {
                    var v = 0L; var k = 0
                    while (k < szLen) {
                      v |= r.u8(q + k).toLong << (8 * k); k += 1
                    }
                    q += szLen
                    val m = r.u32(q); q += 4
                    (v, m)
                  } else (chunkBytes, 0L)
                  val off = (0 until rank).map(d =>
                    r.u64(q + d * 8L).toInt * chunkDims(d))
                  scatterChunk(defilter(chunkAt(addr, nb), mask),
                    off, chunkDims)
                }
            }
          case t => return Left(s"unsupported_chunk_index_$t")
        }
      case 0 => // compact
        val sz = r.u16(lo._2 + 2)
        if (sz < nElems * elem) return Left("bad_compact_size")
        var i = 0
        while (i < nElems) {
          putElem(i, r, lo._2 + 4 + i.toLong * elem); i += 1
        }
      case c => return Left(s"unsupported_layout_class_$c")
    }
    if (vlenErr != null) return Left(vlenErr)
    Right(members.indices.map { m =>
      H5Dataset(name + members(m)._1, dims, members(m)._3, nVals(m),
        attrs, strs = sVals(m))
    })
  }

  /** Fixed Array chunk index (layout v4 indexing type 3): FAHD
    * header → FADB data block, paged (page bitmap + per-page
    * checksums) or not, client 0 (plain addresses) or 1 (address +
    * encoded chunk size + filter mask) → per-chunk (address, nbytes,
    * filterMask) in linear chunk order. Checksums are structural
    * (not re-verified), matching the OHDR discipline. */
  private def decodeFixedArray(r: Rd, faAddr: Long, plainBytes: Long):
      Either[String, IndexedSeq[(Long, Long, Long)]] = {
    if (r.ascii(faAddr, 4) != "FAHD") return Left("bad_fixed_array_header")
    if (r.u8(faAddr + 4) != 0) return Left("unsupported_fixed_array_version")
    val client = r.u8(faAddr + 5)
    if (client > 1) return Left("unsupported_fixed_array_client")
    val entrySize = r.u8(faAddr + 6)
    val pageBits = r.u8(faAddr + 7)
    val nEntries = r.u64(faAddr + 8)
    val dblk = r.u64(faAddr + 16)
    if (isUndef(dblk)) return Left("data_not_allocated")
    if (r.ascii(dblk, 4) != "FADB" || r.u8(dblk + 4) != 0 ||
      r.u8(dblk + 5) != client) return Left("bad_fixed_array_block")
    val szLen = entrySize - 12 // client-1 entry: addr(8)+size(szLen)+mask(4)
    if (client == 1 && (szLen < 1 || szLen > 8))
      return Left("bad_fixed_array_entry_size")
    if (client == 0 && entrySize != 8)
      return Left("bad_fixed_array_entry_size")
    def elemAt(q: Long): (Long, Long, Long) = {
      val addr = r.u64(q)
      if (client == 0) (addr, plainBytes, 0L)
      else {
        var nb = 0L; var i = 0
        while (i < szLen) { nb |= r.u8(q + 8 + i).toLong << (8 * i); i += 1 }
        (addr, nb, r.u32(q + 8 + szLen))
      }
    }
    val out = IndexedSeq.newBuilder[(Long, Long, Long)]
    val pageN = 1L << pageBits
    val hdrEnd = dblk + 14 // sig(4) + version + client + header addr(8)
    if (nEntries > pageN) { // paged: bitmap + block checksum, then pages
      val npages = (nEntries + pageN - 1) / pageN
      val bmpOff = hdrEnd
      // page bitmap: bit set = page initialized; an uninitialized
      // page has NO entries on disk — emit (Undef,0,0) for its chunks
      // so the scatter loop fills instead of reading offset 0
      def pageInit(pg: Long): Boolean =
        (r.u8(bmpOff + pg / 8) & (1 << (pg % 8).toInt)) != 0
      var q = bmpOff + (npages + 7) / 8 + 4
      var remaining = nEntries
      var pg = 0L
      while (remaining > 0) {
        val inPage = math.min(pageN, remaining)
        if (pageInit(pg)) {
          var i = 0L
          while (i < inPage) { out += elemAt(q + i * entrySize); i += 1 }
          q += inPage * entrySize + 4 // trailing page checksum
        } else {
          var i = 0L
          while (i < inPage) { out += ((Undef, 0L, 0L)); i += 1 }
        }
        remaining -= inPage
        pg += 1
      }
    } else {
      var i = 0L
      while (i < nEntries) { out += elemAt(hdrEnd + i * entrySize); i += 1 }
    }
    Right(out.result())
  }

  private def decodeAttr(r: Rd, p: Long): Option[H5Attr] = {
    // v1: 8-padded name/dtype/dataspace fields; v3 (latest format):
    // unpadded fields behind a charset byte
    val ver = r.u8(p)
    if (ver != 1 && ver != 3) return None
    if (ver == 3 && r.u8(p + 1) != 0) return None // shared dt/sp
    val nameSz = r.u16(p + 2)
    val dtSz = r.u16(p + 4)
    val spSz = r.u16(p + 6)
    def pad8(x: Int) = if (ver == 1) (x + 7) / 8 * 8 else x
    val nameOff = p + (if (ver == 1) 8 else 9)
    val dtOff = nameOff + pad8(nameSz)
    val spOff = dtOff + pad8(dtSz)
    val dataOff = spOff + pad8(spSz)
    val name = r.cstr(nameOff)
    val (rank, dimsOff) = r.u8(spOff) match {
      case 2 => (r.u8(spOff + 1), spOff + 4)
      case 1 => (r.u8(spOff + 1), spOff + 8)
      case _ => return None // unsupported dataspace version: drop the attr
    }
    val n = if (rank == 0) 1
      else (0 until rank).map(i => r.u64(dimsOff + i * 8L).toInt).product
    parseDtype(r, dtOff) match {
      case Right((kind, elem, _))
          if kind != "vs" && !kind.startsWith("s") && n >= 1 && rank <= 1 =>
        val vs = (0 until n).map(i => numAt(r, dataOff + i.toLong * elem, kind))
        Some(H5Attr(name, Some(vs.head), None,
          if (n > 1) Some(vs) else None))
      case Right((kind, _, _)) if kind == "vs" =>
        vlenStrAt(r, dataOff, r).toOption.map(s =>
          H5Attr(name, None, Some(s)))
      case Right((kind, elem, pad)) if kind.startsWith("s") =>
        Some(H5Attr(name, None, Some(strAt(r, dataOff, elem * n, pad))))
      case _ => None
    }
  }

  // ------------------------------------------------------- encoder

  private class Wr {
    val out = new java.io.ByteArrayOutputStream()
    def pos: Int = out.size
    def u8(v: Int): Wr = { out.write(v & 0xFF); this }
    def u16(v: Int): Wr = { u8(v); u8(v >> 8) }
    def u32(v: Long): Wr = { u16(v.toInt); u16((v >> 16).toInt) }
    def u64(v: Long): Wr = { u32(v); u32(v >> 32) }
    def bytes(b: Array[Byte]): Wr = { out.write(b); this }
    def ascii(s: String): Wr = bytes(s.getBytes("US-ASCII"))
    def pad(to: Int): Wr = { while (pos % to != 0) u8(0); this }
    def patchU64(at: Int, v: Long): Unit = {
      val b = out.toByteArray
      var i = 0; var x = v
      while (i < 8) { b(at + i) = (x & 0xFF).toByte; x >>= 8; i += 1 }
      out.reset(); out.write(b)
    }
    def patchU32(at: Int, v: Int): Unit = {
      val b = out.toByteArray
      var i = 0; var x = v
      while (i < 4) { b(at + i) = (x & 0xFF).toByte; x >>= 8; i += 1 }
      out.reset(); out.write(b)
    }
  }

  private def deflate(raw: Array[Byte], level: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater(level)
    d.setInput(raw); d.finish()
    val z = new java.io.ByteArrayOutputStream(raw.length)
    val buf = new Array[Byte](8192)
    while (!d.finished()) z.write(buf, 0, d.deflate(buf))
    d.end(); z.toByteArray
  }

  private def shuffleBytes(d: Array[Byte], elem: Int): Array[Byte] = {
    if (elem <= 1) return d
    val n = d.length / elem
    val out = new Array[Byte](d.length)
    var k = 0
    while (k < elem) {
      var i = 0
      while (i < n) { out(k * n + i) = d(i * elem + k); i += 1 }
      k += 1
    }
    var t = n * elem
    while (t < d.length) { out(t) = d(t); t += 1 }
    out
  }

  /** Datatype message body for a kind. Numerics take a `be` suffix
    * (byte-order bit set, big-endian data); `sN` is a null-terminated
    * fixed string, `SN` its space-padded twin (padding class 2 — the
    * encoder-side spelling; the decoder reports both as `sN`); `vs`
    * is a variable-length string over 1-byte ASCII chars. */
  private def dtypeBytes(kind: String): Array[Byte] = {
    val w = new Wr
    val ord = if (kind.endsWith("be")) 1 else 0
    kind match {
      case "f8" | "f8be" =>
        w.u8(0x11).u8(0x20 | ord).u8(63).u8(0).u32(8)
        w.u16(0).u16(64).u8(52).u8(11).u8(0).u8(52).u32(1023)
      case "f4" | "f4be" =>
        w.u8(0x11).u8(0x20 | ord).u8(31).u8(0).u32(4)
        w.u16(0).u16(32).u8(23).u8(8).u8(0).u8(23).u32(127)
      case "i8" | "i8be" =>
        w.u8(0x10).u8(0x08 | ord).u8(0).u8(0).u32(8).u16(0).u16(64)
      case "i4" | "i4be" =>
        w.u8(0x10).u8(0x08 | ord).u8(0).u8(0).u32(4).u16(0).u16(32)
      case "i2" | "i2be" =>
        w.u8(0x10).u8(0x08 | ord).u8(0).u8(0).u32(2).u16(0).u16(16)
      case "vs" => // vlen string: base type 1-byte ASCII fixed string
        w.u8(0x19).u8(0x01).u8(0).u8(0).u32(16)
        w.u8(0x13).u8(0).u8(0).u8(0).u32(1)
      case s if s.startsWith("S") =>
        // fixed string, space-padded (class 2)
        w.u8(0x13).u8(2).u8(0).u8(0).u32(s.drop(1).toInt)
      case s if s.startsWith("s") =>
        // fixed string, null-terminated
        w.u8(0x13).u8(0).u8(0).u8(0).u32(s.drop(1).toInt)
    }
    w.out.toByteArray
  }

  private def valueBytes(kind: String, vs: Array[Double]): Array[Byte] = {
    val elem = kindElem(kind)
    val b = java.nio.ByteBuffer.allocate(vs.length * elem)
      .order(if (kind.endsWith("be")) java.nio.ByteOrder.BIG_ENDIAN
             else java.nio.ByteOrder.LITTLE_ENDIAN)
    vs.foreach { v =>
      kind.stripSuffix("be") match {
        case "f8" => b.putDouble(v)
        case "f4" => b.putFloat(v.toFloat)
        case "i8" => b.putLong(v.toLong)
        case "i4" => b.putInt(v.toInt)
        case "i2" => b.putShort(v.toShort)
      }
    }
    b.array()
  }

  /** Fixed-width string payload: each value padded to the kind's
    * width — NULs for `sN`, spaces for the space-padded `SN`. */
  private def strValueBytes(kind: String, vs: Array[String]): Array[Byte] = {
    val elem = kind.drop(1).toInt
    val pad: Byte = if (kind.charAt(0) == 'S') ' ' else 0
    val out = new Array[Byte](vs.length * elem)
    if (pad != 0) java.util.Arrays.fill(out, pad)
    vs.zipWithIndex.foreach { case (s, i) =>
      val b = s.getBytes("US-ASCII")
      require(b.length <= elem, s"string wider than $kind: $s")
      System.arraycopy(b, 0, out, i * elem, b.length)
      if (pad != 0 && b.length < elem) () // space fill already in place
    }
    out
  }

  /** Write one GCOL global-heap collection holding every string and
    * return the 16-byte-per-element vlen descriptor block (length +
    * collection address + 1-based object index — spec III.E). The
    * collection is padded to libhdf5's 4096-byte minimum with a
    * terminating free-space object. */
  private def writeGcol(w: Wr, vs: Array[String]): Array[Byte] = {
    w.pad(8)
    val coll = w.pos.toLong
    val body = new Wr
    vs.zipWithIndex.foreach { case (s, i) =>
      val b = s.getBytes("US-ASCII")
      body.u16(i + 1).u16(1).u32(0).u64(b.length.toLong)
      body.bytes(b); body.pad(8)
    }
    val used = 16 + body.pos
    val size = math.max(4096, used + 16).toLong
    w.ascii("GCOL").u8(1).u8(0).u8(0).u8(0)
    w.u64(size)
    w.bytes(body.out.toByteArray)
    // free-space object 0 spans the remainder
    w.u16(0).u16(0).u32(0).u64(size - used - 16)
    while (w.pos < coll + size) w.u8(0)
    val d = new Wr
    vs.zipWithIndex.foreach { case (s, i) =>
      d.u32(s.length.toLong).u64(coll).u32(i + 1L)
    }
    d.out.toByteArray
  }

  /** COMPOUND datatype message for (name, kind) members packed at
    * sequential offsets — wire version 3 (latest: packed names,
    * minimal-width offsets) or 1 (classic: 8-padded names, u32
    * offset, the zeroed 28-byte array-dimension block). */
  private def compoundDtypeBytes(members: Seq[(String, String)],
      v1: Boolean): Array[Byte] = {
    val size = members.map(m => kindElem(m._2)).sum
    val offBytes = log2gen(size.toLong) / 8 + 1
    val w = new Wr
    w.u8(if (v1) 0x16 else 0x36)
    w.u8(members.size & 0xFF).u8((members.size >> 8) & 0xFF).u8(0)
    w.u32(size.toLong)
    var off = 0
    members.foreach { case (n, k) =>
      if (v1) {
        val nb = n.getBytes("US-ASCII") :+ 0.toByte
        w.bytes(nb); (nb.length until (nb.length + 7) / 8 * 8)
          .foreach(_ => w.u8(0))
        w.u32(off.toLong)
        (0 until 28).foreach(_ => w.u8(0)) // scalar member: dim block
      } else {
        w.ascii(n).u8(0)
        var x = off; var b = 0
        while (b < offBytes) { w.u8(x & 0xFF); x >>= 8; b += 1 }
      }
      w.bytes(dtypeBytes(k))
      off += kindElem(k)
    }
    w.out.toByteArray
  }

  /** Compound payload: `values` holds elements row-major as
    * [e0.m0, e0.m1, …, e1.m0, …], each member written in its own
    * kind (and byte order). */
  private def compoundValueBytes(d: H5Enc): Array[Byte] = {
    val kinds = d.cmembers.map(_._2)
    val size = kinds.map(kindElem).sum
    require(d.values.length % kinds.size == 0, "ragged compound values")
    val bb = java.nio.ByteBuffer.allocate(d.values.length / kinds.size * size)
    d.values.zipWithIndex.foreach { case (v, i) =>
      val k = kinds(i % kinds.size)
      bb.order(if (k.endsWith("be")) java.nio.ByteOrder.BIG_ENDIAN
               else java.nio.ByteOrder.LITTLE_ENDIAN)
      k.stripSuffix("be") match {
        case "f8" => bb.putDouble(v)
        case "f4" => bb.putFloat(v.toFloat)
        case "i8" => bb.putLong(v.toLong)
        case "i4" => bb.putInt(v.toInt)
        case "i2" => bb.putShort(v.toShort)
      }
    }
    bb.array()
  }

  /** Element width of a dataset spec (compound → total size). */
  private def encElem(d: H5Enc): Int =
    if (d.cmembers.nonEmpty) d.cmembers.map(m => kindElem(m._2)).sum
    else kindElem(d.kind)

  private def encDtypeBytes(d: H5Enc, v1: Boolean): Array[Byte] =
    if (d.cmembers.nonEmpty) compoundDtypeBytes(d.cmembers, v1)
    else dtypeBytes(d.kind)

  /** Data payload for a dataset: numeric kinds from `values`, string
    * kinds from `svalues`, compound members interleaved (vlen handled
    * by the caller — it must place a GCOL first). */
  private def rawBytes(d: H5Enc): Array[Byte] =
    if (d.cmembers.nonEmpty) compoundValueBytes(d)
    else if (d.svalues != null) strValueBytes(d.kind, d.svalues)
    else valueBytes(d.kind, d.values)

  /** `v4Index` (encodeH5V2 only) selects a LAYOUT-v4 chunk index for
    * a chunked dataset — 1 = single chunk, 2 = implicit, 3 = fixed
    * array (`faPageBits` sizes its data-block pages; ≤2^bits chunks
    * stay unpaged). None keeps the v3 chunk-B-tree layout.
    *
    * `svalues` (string datasets) replaces `values`: kind `sN`/`SN`
    * writes fixed-width elements, kind `vs` writes a GCOL global
    * heap + 16-byte descriptors (encodeH5V2, contiguous only —
    * libver=latest's shape for string variables). */
  private[graft] case class H5Enc(name: String, dims: Seq[Int],
      kind: String, values: Array[Double],
      chunkDims: Option[Seq[Int]] = None, gzipLevel: Int = 0,
      shuffle: Boolean = false, attrs: Seq[H5Attr] = Nil,
      v4Index: Option[Int] = None, faPageBits: Int = 10,
      svalues: Array[String] = null,
      cmembers: Seq[(String, String)] = Nil)

  /** Bob Jenkins' lookup3 `hashlittle` — the checksum the HDF5 v2+
    * metadata carries (spec Appendix; the algorithm is public
    * domain). Spec-pinned in Hdf5Spec against lookup3.c's own
    * self-test vectors. */
  private[graft] def lookup3(data: Array[Byte], off: Int, len0: Int,
      init: Int): Int = {
    def rot(x: Int, k: Int) = (x << k) | (x >>> (32 - k))
    def u32(i: Int) = (data(i) & 0xFF) | ((data(i + 1) & 0xFF) << 8) |
      ((data(i + 2) & 0xFF) << 16) | ((data(i + 3) & 0xFF) << 24)
    def byt(p: Int, i: Int) = data(p + i) & 0xFF
    var a = 0xdeadbeef + len0 + init
    var b = a
    var c = a
    var p = off
    var len = len0
    while (len > 12) {
      a += u32(p); b += u32(p + 4); c += u32(p + 8)
      a -= c; a ^= rot(c, 4); c += b
      b -= a; b ^= rot(a, 6); a += c
      c -= b; c ^= rot(b, 8); b += a
      a -= c; a ^= rot(c, 16); c += b
      b -= a; b ^= rot(a, 19); a += c
      c -= b; c ^= rot(b, 4); b += a
      p += 12; len -= 12
    }
    if (len == 0) return c
    // the ≤12-byte tail, little-endian partial words
    if (len >= 1) a += byt(p, 0)
    if (len >= 2) a += byt(p, 1) << 8
    if (len >= 3) a += byt(p, 2) << 16
    if (len >= 4) a += byt(p, 3) << 24
    if (len >= 5) b += byt(p, 4)
    if (len >= 6) b += byt(p, 5) << 8
    if (len >= 7) b += byt(p, 6) << 16
    if (len >= 8) b += byt(p, 7) << 24
    if (len >= 9) c += byt(p, 8)
    if (len >= 10) c += byt(p, 9) << 8
    if (len >= 11) c += byt(p, 10) << 16
    if (len >= 12) c += byt(p, 11) << 24
    c ^= b; c -= rot(b, 14)
    a ^= c; a -= rot(c, 11)
    b ^= a; b -= rot(a, 25)
    c ^= b; c -= rot(b, 16)
    a ^= c; a -= rot(c, 4)
    b ^= a; b -= rot(a, 14)
    c ^= b; c -= rot(b, 24)
    c
  }

  /** Write an HDF5 v0-superblock file holding the given datasets in
    * the root group. Spec-complete for the subset the decoder reads:
    * every address real, CRC-free classic metadata, names in a local
    * heap, one SNOD leaf (bounded fixture sizes). */
  private[graft] def encodeH5(datasets: Seq[H5Enc],
      userblock: Int = 0): Array[Byte] = {
    require(datasets.nonEmpty && datasets.size <= 64)
    val w = new Wr
    (0 until userblock).foreach(_ => w.u8(0))
    val base = w.pos
    // --- superblock v0 ---
    w.bytes(Sig)
    w.u8(0).u8(0).u8(0).u8(0).u8(0) // versions + reserved
    w.u8(8).u8(8).u8(0)             // offset/length sizes
    w.u16(4).u16(16)                // leaf k, internal k
    w.u32(0)                        // consistency flags
    w.u64(base)                     // base address
    w.u64(Undef)                    // free-space
    val eofPatch = w.pos; w.u64(0)  // end of file (patched)
    w.u64(Undef)                    // driver info
    // root symbol table entry
    w.u64(0) // link name offset
    val rootHdrPatch = w.pos; w.u64(0)
    w.u32(1).u32(0)
    val rootBtPatch = w.pos; w.u64(0)
    val rootHeapPatch = w.pos; w.u64(0)
    // --- local heap (names) ---
    val names = datasets.map(_.name)
    val heapOffsets = scala.collection.mutable.Map[String, Long]()
    val heapData = {
      val hw = new Wr
      hw.u64(0) // offset 0: the empty string slot
      names.foreach { n =>
        heapOffsets(n) = hw.pos.toLong
        hw.ascii(n).u8(0); hw.pad(8)
      }
      hw.out.toByteArray
    }
    w.pad(8)
    val heapAddr = w.pos
    w.ascii("HEAP").u8(0).u8(0).u8(0).u8(0)
    w.u64(heapData.length).u64(Undef)
    val heapDataPatch = w.pos; w.u64(0)
    w.pad(8)
    val heapDataAddr = w.pos
    w.bytes(heapData)
    w.patchU64(heapDataPatch, heapDataAddr)
    // --- per-dataset object headers + data (headers first, data
    // addresses patched after) ---
    val pend = scala.collection.mutable.Buffer.empty[(Int, Wr => Long)]
    val dsHeaders = datasets.map { d =>
      w.pad(8)
      val hdr = w.pos
      writeDatasetHeader(w, d, pend)
      (d.name, hdr.toLong)
    }.toMap
    // --- SNOD + group btree ---
    w.pad(8)
    val snod = w.pos
    w.ascii("SNOD").u8(1).u8(0).u16(names.size)
    names.sorted.foreach { n =>
      w.u64(heapOffsets(n)).u64(dsHeaders(n)).u32(0).u32(0)
      w.u64(0).u64(0) // scratch
    }
    w.pad(8)
    val bt = w.pos
    w.ascii("TREE").u8(0).u8(0).u16(1)
    w.u64(Undef).u64(Undef)
    w.u64(0)      // key 0
    w.u64(snod)   // child 0
    w.u64(heapOffsets(names.sorted.last)) // key 1
    // --- root object header ---
    w.pad(8)
    val rootHdr = w.pos
    w.u8(1).u8(0).u16(1).u32(1)
    w.u32(24).u32(0)
    w.u16(0x0011).u16(16).u8(0).u8(0).u8(0).u8(0)
    w.u64(bt).u64(heapAddr)
    // --- data blocks ---
    pend.foreach { case (at, write) => w.patchU64(at, write(w)) }
    w.patchU64(rootHdrPatch, rootHdr)
    w.patchU64(rootBtPatch, bt)
    w.patchU64(rootHeapPatch, heapAddr)
    w.patchU64(eofPatch, w.pos.toLong)
    w.out.toByteArray
  }

  /** Write the same datasets as a v2-SUPERBLOCK file in the 1.8+
    * "latest" format: 48-byte checksummed superblock, per-object
    * OHDR v2 headers (dataspace v2, attribute v3, the same layout/
    * filter message bodies), the root group as COMPACT link messages
    * (Link Info with undefined fractal heap — exactly what libhdf5
    * writes for small groups), every header carrying its real
    * Jenkins-lookup3 checksum. Data regions are written FIRST so
    * header bytes (and therefore checksums) are final at emit
    * time. */
  private[graft] def encodeH5V2(datasets: Seq[H5Enc],
      denseGroup: Boolean = false,
      denseSpill: Boolean = false,
      denseMaxDirect: Long = 65536L,
      denseFilter: Boolean = false): Array[Byte] = {
    require(datasets.nonEmpty)
    require(denseGroup || datasets.size <= 8,
      "compact links: 8 is libhdf5's default dense threshold")
    val w = new Wr
    // --- superblock v2 (checksum patched at the end) ---
    w.bytes(Sig)
    w.u8(2)        // superblock version
    w.u8(8).u8(8)  // offset / length sizes
    w.u8(0)        // consistency flags
    w.u64(0)       // base address
    w.u64(Undef)   // superblock extension
    val eofPatch = w.pos; w.u64(0)
    val rootPatch = w.pos; w.u64(0)
    val sbCkPatch = w.pos; w.u32(0)
    // --- data regions first: layouts need addresses, checksums need
    // final bytes. The finished layout message rides along (v3 chunk
    // B-tree by default; H5Enc.v4Index selects a LAYOUT-v4 chunk
    // index — what libhdf5 libver=latest actually writes) ---
    val layoutMsg: Map[String, Array[Byte]] = datasets.map { d =>
      val raw =
        if (d.kind == "vs") {
          require(d.chunkDims.isEmpty, "vlen datasets are contiguous-only")
          writeGcol(w, d.svalues) // heap first; descriptors are the data
        } else rawBytes(d)
      val elem = encElem(d)
      val lo = new Wr
      (d.chunkDims, d.v4Index) match {
        case (None, _) =>
          w.pad(8); val a = w.pos.toLong; w.bytes(raw)
          lo.u8(3).u8(1).u64(a).u64(raw.length.toLong)
        case (Some(cd), None) =>
          val bt = writeChunks(w, d, raw)
          lo.u8(3).u8(2).u8(d.dims.size + 1).u64(bt)
          cd.foreach(x => lo.u32(x.toLong))
          lo.u32(elem.toLong)
        case (Some(_), Some(idx)) =>
          writeV4Chunked(w, d, raw, idx, lo)
      }
      d.name -> lo.out.toByteArray
    }.toMap
    def ohdr(msgs: Seq[(Int, Array[Byte])]): Long = {
      val body = new Wr
      msgs.foreach { case (t, b) =>
        body.u8(t).u16(b.length).u8(0).bytes(b)
      }
      val bodyBytes = body.out.toByteArray
      w.pad(8)
      val at = w.pos
      w.ascii("OHDR").u8(2).u8(0x02) // flags: 4-byte chunk-0 size
      w.u32(bodyBytes.length.toLong)
      w.bytes(bodyBytes)
      val ck = lookup3(w.out.toByteArray, at, w.pos - at, 0)
      w.u32(ck.toLong & 0xFFFFFFFFL)
      at.toLong
    }
    def dataspaceV2(dims: Seq[Int]): Array[Byte] = {
      val s = new Wr
      s.u8(2).u8(dims.size).u8(0).u8(if (dims.isEmpty) 0 else 1)
      dims.foreach(x => s.u64(x))
      s.out.toByteArray
    }
    def attrV3(a: H5Attr): Array[Byte] = {
      val nameB = a.name.getBytes("US-ASCII") :+ 0.toByte
      val (dtB, spB, data) = (a.nums, a.num) match {
        case (Some(vs), _) =>
          val bb = java.nio.ByteBuffer.allocate(8 * vs.size)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          vs.foreach(bb.putDouble)
          (dtypeBytes("f8"), dataspaceV2(Seq(vs.size)), bb.array())
        case (None, Some(v)) =>
          val b = java.nio.ByteBuffer.allocate(8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(v).array()
          (dtypeBytes("f8"), dataspaceV2(Nil), b)
        case (None, None) =>
          val s = a.str.get.getBytes("US-ASCII")
          (dtypeBytes(s"s${s.length}"), dataspaceV2(Nil), s)
      }
      val aw = new Wr
      aw.u8(3).u8(0) // version 3, not shared
      aw.u16(nameB.length).u16(dtB.length).u16(spB.length)
      aw.u8(0) // ASCII charset
      aw.bytes(nameB).bytes(dtB).bytes(spB).bytes(data)
      aw.out.toByteArray
    }
    val dsAddr = datasets.map { d =>
      val elem = encElem(d)
      val msgs = Seq.newBuilder[(Int, Array[Byte])]
      msgs += ((0x01, dataspaceV2(d.dims)))
      msgs += ((0x03, encDtypeBytes(d, v1 = false)))
      msgs += ((0x05, Array[Byte](2, 2, 2, 0)))
      d.attrs.foreach(a => msgs += ((0x0C, attrV3(a))))
      val filterIds =
        (if (d.shuffle) Seq(2) else Nil) ++
          (if (d.gzipLevel > 0) Seq(1) else Nil)
      if (filterIds.nonEmpty) {
        val f = new Wr
        f.u8(1).u8(filterIds.size).u16(0).u32(0)
        filterIds.foreach {
          case 2 => f.u16(2).u16(0).u16(0).u16(1)
            f.u32(elem.toLong).u32(0)
          case 1 => f.u16(1).u16(0).u16(0).u16(1)
            f.u32(d.gzipLevel.toLong).u32(0)
        }
        msgs += ((0x0B, f.out.toByteArray))
      }
      msgs += ((0x08, layoutMsg(d.name)))
      d.name -> ohdr(msgs.result())
    }.toMap
    // --- root group: Link Info + Group Info; links either compact
    // (0x06 messages in the header) or DENSE (fractal heap + name-
    // index v2 B-tree, libhdf5's form past 8 links) ---
    def linkBody(d: H5Enc): Array[Byte] = {
      val nameB = d.name.getBytes("US-ASCII")
      val lk = new Wr
      lk.u8(1).u8(0) // version 1, hard link, 1-byte name length
      lk.u8(nameB.length).bytes(nameB)
      lk.u64(dsAddr(d.name))
      lk.out.toByteArray
    }
    val rootMsgs = Seq.newBuilder[(Int, Array[Byte])]
    if (denseGroup) {
      val (fhAddr, btAddr) = writeDenseGroup(w,
        datasets.map(d => d.name -> linkBody(d)), spill = denseSpill,
        maxDirectSize = denseMaxDirect, filtered = denseFilter)
      val li = new Wr
      li.u8(0).u8(0).u64(fhAddr).u64(btAddr)
      rootMsgs += ((0x02, li.out.toByteArray))
      rootMsgs += ((0x0A, Array[Byte](0, 0)))
    } else {
      val li = new Wr
      li.u8(0).u8(0).u64(Undef).u64(Undef) // no fractal heap / btree
      rootMsgs += ((0x02, li.out.toByteArray))
      rootMsgs += ((0x0A, Array[Byte](0, 0)))
      datasets.foreach(d => rootMsgs += ((0x06, linkBody(d))))
    }
    val rootHdr = ohdr(rootMsgs.result())
    w.patchU64(rootPatch, rootHdr)
    w.patchU64(eofPatch, w.pos.toLong)
    // superblock checksum covers its first 44 bytes, final values in
    w.patchU32(sbCkPatch, lookup3(w.out.toByteArray, 0, 44, 0))
    w.out.toByteArray
  }

  private def writeDatasetHeader(w: Wr, d: H5Enc,
      pend: scala.collection.mutable.Buffer[(Int, Wr => Long)]): Unit = {
    // assemble messages into a buffer first so the header size field
    // is exact
    val patches = scala.collection.mutable.Buffer.empty[(Int, Wr => Long)]
    val m = new Wr
    def msg(t: Int, body: Array[Byte]): Unit = {
      val padded = body ++ new Array[Byte]((8 - body.length % 8) % 8)
      m.u16(t).u16(padded.length).u8(0).u8(0).u8(0).u8(0)
      m.bytes(padded)
    }
    // dataspace
    val sp = new Wr
    sp.u8(1).u8(d.dims.size).u8(0).u8(0).u32(0)
    d.dims.foreach(x => sp.u64(x))
    msg(0x0001, sp.out.toByteArray)
    // datatype
    msg(0x0003, encDtypeBytes(d, v1 = true))
    // fill value v2, undefined
    msg(0x0005, Array[Byte](2, 2, 2, 0))
    // attributes
    d.attrs.foreach { a => msg(0x000C, attrBytes(a)) }
    // filters
    val filterIds =
      (if (d.shuffle) Seq(2) else Nil) ++
        (if (d.gzipLevel > 0) Seq(1) else Nil)
    if (filterIds.nonEmpty) {
      val f = new Wr
      f.u8(1).u8(filterIds.size).u16(0).u32(0)
      filterIds.foreach {
        case 2 => f.u16(2).u16(0).u16(0).u16(1)
          f.u32(encElem(d).toLong).u32(0)
        case 1 => f.u16(1).u16(0).u16(0).u16(1)
          f.u32(d.gzipLevel.toLong).u32(0)
      }
      msg(0x000B, f.out.toByteArray)
    }
    // layout v3 + remember where the data address lands inside the
    // message stream
    require(d.kind != "vs", "vlen datasets: encodeH5V2 only")
    val elem = encElem(d)
    val raw = rawBytes(d)
    d.chunkDims match {
      case None =>
        val lo = new Wr
        lo.u8(3).u8(1)
        val addrAt = m.pos + 8 + lo.pos // after msg header once emitted
        lo.u64(0).u64(raw.length)
        msg(0x0008, lo.out.toByteArray)
        patches += ((addrAt, (fw: Wr) => {
          fw.pad(8); val a = fw.pos; fw.bytes(raw); a.toLong
        }))
      case Some(cd) =>
        val lo = new Wr
        lo.u8(3).u8(2).u8(d.dims.size + 1)
        val addrAt = m.pos + 8 + lo.pos
        lo.u64(0)
        cd.foreach(x => lo.u32(x))
        lo.u32(elem)
        msg(0x0008, lo.out.toByteArray)
        patches += ((addrAt, (fw: Wr) => writeChunks(fw, d, raw)))
    }
    // emit the v1 header prefix + messages
    val body = m.out.toByteArray
    w.u8(1).u8(0).u16(countMsgs(body)).u32(1)
    w.u32(body.length).u32(0)
    val msgsStart = w.pos
    w.bytes(body)
    patches.foreach { case (rel, wf) => pend += ((msgsStart + rel, wf)) }
  }

  private def countMsgs(body: Array[Byte]): Int = {
    var p = 0; var n = 0
    while (p + 8 <= body.length) {
      val sz = (body(p + 2) & 0xFF) | ((body(p + 3) & 0xFF) << 8)
      n += 1; p += 8 + sz
    }
    n
  }

  private def attrBytes(a: H5Attr): Array[Byte] = {
    val aw = new Wr
    val nameB = a.name.getBytes("US-ASCII") :+ 0.toByte
    val vec = a.nums
    val (dtB, data) = (vec, a.num) match {
      case (Some(vs), _) =>
        val bb = java.nio.ByteBuffer.allocate(8 * vs.size)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        vs.foreach(bb.putDouble)
        (dtypeBytes("f8"), bb.array())
      case (None, Some(v)) =>
        val b = java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(v).array()
        (dtypeBytes("f8"), b)
      case (None, None) =>
        val s = a.str.get.getBytes("US-ASCII")
        (dtypeBytes(s"s${s.length}"), s)
    }
    val spB = { val s = new Wr
      vec match {
        case Some(vs) => // rank-1 dataspace: one u64 dim after the header
          s.u8(1).u8(1).u8(0).u8(0).u32(0); s.u64(vs.size.toLong)
        case None => s.u8(1).u8(0).u8(0).u8(0).u32(0) // scalar
      }
      s.out.toByteArray }
    aw.u8(1).u8(0).u16(nameB.length).u16(dtB.length).u16(spB.length)
    def pad8(b: Array[Byte]) =
      b ++ new Array[Byte]((8 - b.length % 8) % 8)
    aw.bytes(pad8(nameB)).bytes(pad8(dtB)).bytes(pad8(spB)).bytes(data)
    aw.out.toByteArray
  }

  /** Gather + filter every chunk of a dataset (edge chunks
    * zero-padded, row-major grid order): (chunkOffset, bytes). Shared
    * by the v3 B-tree writer and the v4 index writers. */
  private def gatherChunks(d: H5Enc, raw: Array[Byte]):
      IndexedSeq[(Seq[Int], Array[Byte])] = {
    val elem = encElem(d)
    val dims = d.dims
    val cd = d.chunkDims.get
    val rank = dims.size
    val strides = dims.scanRight(1)(_ * _).drop(1)
    val cStrides = cd.scanRight(1)(_ * _).drop(1)
    val cElems = cd.product
    val grid = dims.zip(cd).map { case (n, c) => (n + c - 1) / c }
    val gStrides = grid.scanRight(1)(_ * _).drop(1)
    (0 until grid.product).map { ci =>
      val off = (0 until rank).map(dd => (ci / gStrides(dd)) % grid(dd) * cd(dd))
      // gather (edge chunks zero-padded), row-major within the chunk
      val buf = new Array[Byte](cElems * elem)
      var j = 0
      while (j < cElems) {
        val coords = (0 until rank).map(dd => off(dd) + (j / cStrides(dd)) % cd(dd))
        if (coords.zip(dims).forall { case (c, n) => c < n }) {
          val gi = coords.zip(strides).map(p => p._1 * p._2).sum
          System.arraycopy(raw, gi * elem, buf, j * elem, elem)
        }
        j += 1
      }
      var filtered = buf
      if (d.shuffle) filtered = shuffleBytes(filtered, elem)
      if (d.gzipLevel > 0) filtered = deflate(filtered, d.gzipLevel)
      (off, filtered)
    }
  }

  /** Chunk data + B-tree v1; returns the B-tree address. */
  private def writeChunks(w: Wr, d: H5Enc, raw: Array[Byte]): Long = {
    val dims = d.dims
    val cd = d.chunkDims.get
    val rank = dims.size
    val grid = dims.zip(cd).map { case (n, c) => (n + c - 1) / c }
    val nChunks = grid.product
    val chunks = gatherChunks(d, raw)
    val addrs = chunks.map { case (_, data) =>
      w.pad(8); val a = w.pos; w.bytes(data); a.toLong
    }
    w.pad(8)
    val bt = w.pos
    w.ascii("TREE").u8(1).u8(0).u16(nChunks)
    w.u64(Undef).u64(Undef)
    chunks.zip(addrs).foreach { case ((off, data), a) =>
      w.u32(data.length).u32(0)
      off.foreach(o => w.u64(o))
      w.u64(0)
      w.u64(a)
    }
    // final key: past-the-end chunk offsets
    w.u32(0).u32(0)
    (0 until rank).foreach(dd => w.u64(grid(dd).toLong * cd(dd)))
    w.u64(0)
    bt.toLong
  }

  /** Write DENSE group link storage (the libhdf5 past-8-links form):
    * link-message bodies as managed objects in a single root DIRECT
    * block of a fractal heap, found through a depth-0 name-index v2
    * B-tree of type-5 records (lookup3 name hash + 7-byte managed
    * heap ID). Parameters mirror libhdf5's group-heap creation
    * constants (width 4, 64 KB max direct block, 32-bit heap space,
    * 4096-byte max managed object → heap ID length 7, checksummed
    * direct blocks); the direct block checksum is computed over the
    * whole block image with its own field zeroed, exactly as the
    * metadata cache serializes it. Returns (heap header address,
    * name-index header address) for the Link Info message. */
  private def writeDenseGroup(w: Wr,
      links: Seq[(String, Array[Byte])],
      spill: Boolean = false,
      maxDirectSize: Long = 65536L,
      filtered: Boolean = false): (Long, Long) = {
    val offSize = 4 // 32-bit heap address space
    val lenSize = 2 // min(enc(64K max direct), enc(4096 max managed))
    val idLen = 1 + offSize + lenSize
    val dbHdr = 4 + 1 + 8 + offSize + 4 // sig+ver+backptr+off+checksum
    val width = 4
    val widthBits = 2
    // --- placement: single root DIRECT block sized to fit (the
    // libhdf5 shape for modest groups), or — spill mode (r15/r16) —
    // a fixed 512-byte starting block with the doubling-table slot
    // grid, so the heap genuinely spans multiple direct blocks under
    // a root INDIRECT block (rows 0-1 at 512, row k ≥ 2 at
    // 512·2^(k-1), 4 slots per row). Rows at or past the max-direct
    // rung (maxDirectSize, default libhdf5's 64 KB) hold NESTED
    // indirect blocks — a child in row k spans that row's block size
    // with k − log2(width) rows of its own, numbered from 0 again —
    // so shrinking maxDirectSize (e.g. 1024) forces genuine nesting
    // at fixture scale. Direct blocks enumerate in DFS heap-offset
    // order; placement fills them sequentially. ---
    require(java.lang.Long.bitCount(maxDirectSize) == 1 &&
      maxDirectSize >= 512L, "bad maxDirectSize")
    val maxDirectRows = (log2gen(maxDirectSize) - 9 + 2).toInt
    def rowSz(row: Int): Long = if (row < 2) 512L else 512L << (row - 1)
    def directsOf(blockOff: Long, nrows: Int): Vector[(Long, Long)] = {
      val out = Vector.newBuilder[(Long, Long)]
      var rel = 0L
      var row = 0
      while (row < nrows) {
        val rs = rowSz(row)
        var c = 0
        while (c < width) {
          if (row < maxDirectRows) out += ((blockOff + rel, rs))
          else out ++= directsOf(blockOff + rel, row - widthBits)
          rel += rs
          c += 1
        }
        row += 1
      }
      out.result()
    }
    // (name, bytes, global heap offset, direct-block index)
    var placedV = Vector.empty[(String, Array[Byte], Long, Int)]
    var rootRows = 0
    var lastDi = 0
    var iterOff = 0L // heap offset past the last placed byte
    if (spill) {
      var fit = false
      while (!fit) {
        rootRows += 1
        require(rootRows <= 16, "dense spill fixture outgrew 16 rows")
        val directs = directsOf(0L, rootRows)
        val pl = Vector.newBuilder[(String, Array[Byte], Long, Int)]
        var di = 0
        var used = dbHdr.toLong
        fit = true
        links.iterator.takeWhile(_ => fit).foreach { case (n, b) =>
          require(b.length + dbHdr <= 512, s"oversized link $n")
          if (used + b.length > directs(di)._2) {
            di += 1; used = dbHdr.toLong
            if (di >= directs.size) fit = false
          }
          if (fit) {
            pl += ((n, b, directs(di)._1 + used, di))
            used += b.length
          }
        }
        if (fit) {
          placedV = pl.result(); lastDi = di
          iterOff = directs(di)._1 + used
        }
      }
    } else {
      var used = dbHdr.toLong
      val pl = Vector.newBuilder[(String, Array[Byte], Long, Int)]
      links.foreach { case (n, b) =>
        pl += ((n, b, used, 0)); used += b.length
      }
      require(used <= 65536, "dense fixture outgrew one direct block")
      placedV = pl.result(); iterOff = used
    }
    val heapOff = placedV
    val singleBlockSize =
      if (spill) 512
      else math.max(512,
        java.lang.Integer.highestOneBit(iterOff.toInt - 1) * 2)
    val startBlock = if (spill) 512L else singleBlockSize.toLong
    val totalSlotSpace = (0 until rootRows).map(r => rowSz(r) * width).sum
    // layout: FRHP (146 bytes — +36 when filtered: root csize, mask,
    // pipeline message — 8-padded), then the root block (direct, or
    // FHIB followed — pre-order — by each allocated child: nested
    // FHIBs precede their own blocks). Filtered heaps (r16) deflate
    // every direct-block image whole (header included, checksum
    // computed BEFORE filtering — the libhdf5 cache order) and widen
    // FHIB direct entries to (address, stored size, mask).
    val pipeBytes: Array[Byte] =
      if (!filtered) Array.empty
      else {
        val pw = new Wr
        pw.u8(1).u8(1).u16(0).u32(0)   // pipeline message v1, 1 filter
        pw.u16(1).u16(0).u16(0).u16(1) // deflate, unnamed, 1 value
        pw.u32(6L)                     // level
        pw.u32(0L)                     // odd value count pads
        pw.out.toByteArray
      }
    w.pad(8)
    val fhAddr = w.pos.toLong
    def pad8(v: Long): Long = (v + 7) & ~7L
    val rootBlk = fhAddr +
      pad8(146 + (if (filtered) 12 + pipeBytes.length else 0))
    def fhibSize(nrows: Int): Int = {
      var sz = 13 + offSize + 4
      var row = 0
      while (row < nrows) {
        sz += width * (if (row < maxDirectRows && filtered) 20 else 8)
        row += 1
      }
      sz
    }
    // --- build the allocated tree and assign file addresses ---
    sealed trait Nd
    case class DirectNd(off: Long, size: Long, idx: Int,
        var addr: Long = 0L) extends Nd
    case class IndNd(off: Long, nrows: Int,
        slots: Vector[Option[Nd]], var addr: Long = 0L) extends Nd
    var dIdx = 0
    def build(blockOff: Long, nrows: Int): IndNd = {
      val slots = Vector.newBuilder[Option[Nd]]
      var rel = 0L
      var row = 0
      while (row < nrows) {
        val rs = rowSz(row)
        var c = 0
        while (c < width) {
          if (row < maxDirectRows) {
            val nd = DirectNd(blockOff + rel, rs, dIdx); dIdx += 1
            slots += (if (nd.idx <= lastDi) Some(nd) else None)
          } else {
            val first = dIdx
            val child = build(blockOff + rel, row - widthBits)
            slots += (if (first <= lastDi) Some(child) else None)
          }
          rel += rs
          c += 1
        }
        row += 1
      }
      IndNd(blockOff, nrows, slots.result())
    }
    val rootNd: Option[IndNd] = if (spill) Some(build(0L, rootRows)) else None
    def directBlockImage(objs: Seq[(Array[Byte], Long)],
        heapOffset: Long, size: Int): Array[Byte] = {
      val blk = new Array[Byte](size)
      val bw = new Wr
      bw.ascii("FHDB").u8(0).u64(fhAddr)
      var k = 0
      while (k < offSize) { // stored block offset (heap space)
        bw.u8(((heapOffset >> (8 * k)) & 0xFF).toInt); k += 1
      }
      bw.u32(0L) // checksum placeholder (computed with field zeroed)
      val hdrBytes = bw.out.toByteArray
      System.arraycopy(hdrBytes, 0, blk, 0, hdrBytes.length)
      objs.foreach { case (b, globalOff) =>
        System.arraycopy(b, 0, blk, (globalOff - heapOffset).toInt, b.length)
      }
      val ck = lookup3(blk, 0, size, 0)
      (0 until 4).foreach(i =>
        blk(13 + offSize + i) = ((ck >> (8 * i)) & 0xFF).toByte)
      blk
    }
    // on-disk bytes per direct block — the plain image, or (filtered)
    // the deflated whole image; sizes must exist before addressing
    val diskBytes = scala.collection.mutable.Map[Int, Array[Byte]]()
    def prepImages(n: Nd): Unit = n match {
      case d: DirectNd =>
        val objs = heapOff.filter(_._4 == d.idx)
          .map { case (_, b, o, _) => (b, o) }
        val img = directBlockImage(objs, d.off, d.size.toInt)
        diskBytes(d.idx) = if (filtered) deflate(img, 6) else img
      case i: IndNd => i.slots.flatten.foreach(prepImages)
    }
    rootNd.foreach(prepImages)
    if (rootNd.isEmpty) {
      val img = directBlockImage(
        heapOff.map { case (_, b, o, _) => (b, o) }, 0L, singleBlockSize)
      diskBytes(0) = if (filtered) deflate(img, 6) else img
    }
    var cursor = rootBlk
    def assign(n: Nd): Unit = n match {
      case d: DirectNd =>
        cursor = pad8(cursor); d.addr = cursor
        cursor += diskBytes(d.idx).length
      case i: IndNd =>
        cursor = pad8(cursor); i.addr = cursor; cursor += fhibSize(i.nrows)
        i.slots.flatten.foreach(assign)
    }
    rootNd.foreach(assign)
    val hb = new Wr
    hb.ascii("FRHP").u8(0)
    hb.u16(idLen).u16(pipeBytes.length) // I/O filter info length
    hb.u8(2)             // flags: checksum direct blocks
    hb.u32(4096L)        // max managed object size
    hb.u64(0)            // next huge id
    hb.u64(Undef)        // huge v2 btree
    hb.u64(0)            // free space
    hb.u64(Undef)        // free space manager
    hb.u64(if (spill) totalSlotSpace else startBlock) // managed space
    hb.u64(if (spill) totalSlotSpace else startBlock) // allocated
    hb.u64(iterOff)      // direct block iterator offset
    hb.u64(links.size.toLong) // managed objects
    hb.u64(0).u64(0).u64(0).u64(0) // huge/tiny sizes and counts
    hb.u16(width)        // table width
    hb.u64(startBlock)   // starting block size
    hb.u64(maxDirectSize) // max direct block size
    hb.u16(32)           // max heap size (bits)
    hb.u16(1)            // starting rows in root indirect block
    hb.u64(rootBlk)      // root block address
    hb.u16(if (spill) rootRows else 0) // 0 = root is DIRECT
    if (filtered) {
      // filtered ROOT direct block size (0 when the root is
      // indirect), its filter mask, then the pipeline message
      hb.u64(if (spill) 0L else diskBytes(0).length.toLong)
      hb.u32(0L)
      hb.bytes(pipeBytes)
    }
    hb.u32(lookup3(hb.out.toByteArray, 0, hb.pos, 0).toLong & 0xFFFFFFFFL)
    w.bytes(hb.out.toByteArray)
    w.pad(8)
    require(w.pos == rootBlk, "root block address drifted")
    def writeNode(n: Nd): Unit = n match {
      case d: DirectNd =>
        w.pad(8)
        require(w.pos == d.addr, "direct block drifted")
        w.bytes(diskBytes(d.idx))
      case i: IndNd =>
        w.pad(8)
        require(w.pos == i.addr, "indirect block drifted")
        // FHIB: child addresses row-major, Undef for empty slots —
        // direct entries widened to (addr, stored size, mask) in
        // filtered heaps — stored span-start offset, trailing checksum
        val iw = new Wr
        iw.ascii("FHIB").u8(0).u64(fhAddr)
        var k = 0
        while (k < offSize) {
          iw.u8(((i.off >> (8 * k)) & 0xFF).toInt); k += 1
        }
        i.slots.zipWithIndex.foreach { case (slot, s) =>
          val directRow = s / width < maxDirectRows
          slot match {
            case Some(d: DirectNd) =>
              iw.u64(d.addr)
              if (filtered && directRow) {
                iw.u64(diskBytes(d.idx).length.toLong); iw.u32(0L)
              }
            case Some(c: IndNd) => iw.u64(c.addr)
            case None =>
              iw.u64(Undef)
              if (filtered && directRow) { iw.u64(0L); iw.u32(0L) }
          }
        }
        iw.u32(lookup3(iw.out.toByteArray, 0, iw.pos, 0).toLong & 0xFFFFFFFFL)
        w.bytes(iw.out.toByteArray)
        i.slots.flatten.foreach(writeNode)
    }
    rootNd match {
      case Some(root) => writeNode(root)
      case None => w.bytes(diskBytes(0))
    }
    // --- name-index v2 B-tree: leaves first, then the BTIN root (if
    // the records outgrow one 512-byte node — the r16 depth-1 form),
    // BTHD header last. A single leaf previously took ALL records
    // regardless of the declared node size; now the leaf capacity
    // ((512 − 10) / recSize) is honored, which is what libhdf5's
    // reader assumes when it sizes node buffers. ---
    val recSize = 4 + idLen
    val recs = heapOff.map { case (n, b, o, _) =>
      val nb = n.getBytes("US-ASCII")
      (lookup3(nb, 0, nb.length, 0).toLong & 0xFFFFFFFFL, o, b.length)
    }.sortBy(_._1)
    val leafMax = (512 - 10) / recSize
    def recBytes(rec: (Long, Long, Int)): Wr => Unit = { lw =>
      lw.u32(rec._1)
      lw.u8(0)            // heap ID: version 0, managed
      lw.u32(rec._2)      // heap offset (offSize = 4)
      lw.u16(rec._3)      // object length (lenSize = 2)
    }
    def writeLeaf(rs: Seq[(Long, Long, Int)]): Long = {
      w.pad(8)
      val at = w.pos.toLong
      val lw = new Wr
      lw.ascii("BTLF").u8(0).u8(5) // version 0, type 5: link name index
      rs.foreach(r => recBytes(r)(lw))
      lw.u32(lookup3(lw.out.toByteArray, 0, lw.pos, 0).toLong & 0xFFFFFFFFL)
      w.bytes(lw.out.toByteArray)
      at
    }
    val (rootAddr2, rootNRec, depth) =
      if (recs.size <= leafMax) (writeLeaf(recs), recs.size, 0)
      else {
        // general depth (r16): split records into leaves with the
        // separators between them PROMOTED (B-tree semantics —
        // separators are records, not copies), then pack bottom-up:
        // each internal level groups the level below into parents of
        // ≤ max_nrec+1 children (capacities from the same derived
        // geometry the decoder uses), the separator between two
        // parents promoting again, until one root remains
        val geom = bt2Geom(512L, recSize, 8).get
        case class Written(addr: Long, nrec: Int, total: Long)
        // level 0: split the sorted records into leaves of ≤ leafMax,
        // the record BETWEEN two leaves promoted upward (a B-tree
        // separator is a record, not a copy). If the tail would
        // leave a dangling separator, it becomes a 1-record leaf.
        val leafRecs = Vector.newBuilder[Vector[(Long, Long, Int)]]
        val sepsB = Vector.newBuilder[(Long, Long, Int)]
        locally {
          var g = 1
          while ((recs.size + g - 1) / g > leafMax) g += 1
          val per = (recs.size + g - 1) / g
          var rest = recs.toVector
          while (rest.nonEmpty) {
            val grp = rest.take(math.min(per, rest.size))
            rest = rest.drop(grp.size)
            if (rest.size == 1) {
              // taking rest.head as separator would leave no leaf
              // after it: donate this group's last record as the
              // separator instead, the tail record becoming a
              // 1-record final leaf (order preserved — all sorted)
              leafRecs += grp.init
              sepsB += grp.last
              leafRecs += Vector(rest.head)
              rest = Vector.empty
            } else if (rest.nonEmpty) {
              leafRecs += grp
              sepsB += rest.head; rest = rest.tail
            } else leafRecs += grp
          }
        }
        var nodes: Vector[Written] = leafRecs.result().map(g =>
          Written(writeLeaf(g), g.size, g.size.toLong))
        // seps(i) sits between nodes(i) and nodes(i+1)
        var seps: Vector[(Long, Long, Int)] = sepsB.result()
        require(seps.size == nodes.size - 1, "separator/leaf mismatch")
        var level = 1
        while (nodes.size > 1) {
          require(level <= 8, "dense name index outgrew depth 8")
          val maxKids = geom.maxNrec(level).toInt + 1
          var g = 1
          while ((nodes.size + g - 1) / g > maxKids) g += 1
          val per = (nodes.size + g - 1) / g
          val parents = Vector.newBuilder[Written]
          val promoted = Vector.newBuilder[(Long, Long, Int)]
          // walk (node, following-sep) pairs: a node's following sep
          // sits INSIDE the parent unless the node closes a group —
          // then it promotes (the global last node has no sep)
          var rest = nodes.zip(seps.map(Option(_)) :+ None)
          while (rest.nonEmpty) {
            val grp = rest.take(math.min(per, rest.size))
            rest = rest.drop(grp.size)
            val children = grp.map(_._1)
            val inSeps = grp.init.flatMap(_._2.toVector)
            if (rest.nonEmpty) grp.last._2.foreach(promoted += _)
            else require(grp.last._2.isEmpty, "dangling separator")
            w.pad(8)
            val at = w.pos.toLong
            val iw = new Wr
            iw.ascii("BTIN").u8(0).u8(5)
            inSeps.foreach(r => recBytes(r)(iw))
            children.foreach { c =>
              iw.u64(c.addr)
              var x = c.nrec.toLong; var b = 0
              while (b < geom.nrecSize) {
                iw.u8((x & 0xFF).toInt); x >>= 8; b += 1
              }
              if (level >= 2) {
                var y = c.total; b = 0
                while (b < geom.cumSize(level - 1)) {
                  iw.u8((y & 0xFF).toInt); y >>= 8; b += 1
                }
              }
            }
            iw.u32(lookup3(iw.out.toByteArray, 0, iw.pos, 0)
              .toLong & 0xFFFFFFFFL)
            w.bytes(iw.out.toByteArray)
            parents += Written(at, inSeps.size,
              children.map(_.total).sum + inSeps.size)
          }
          nodes = parents.result()
          seps = promoted.result()
          require(seps.size == nodes.size - 1, "separator/parent mismatch")
          level += 1
        }
        (nodes.head.addr, nodes.head.nrec, level - 1)
      }
    w.pad(8)
    val btAddr = w.pos.toLong
    val tw = new Wr
    tw.ascii("BTHD").u8(0).u8(5)
    tw.u32(512L)           // node size
    tw.u16(recSize)        // record size
    tw.u16(depth)
    tw.u8(100).u8(40)      // split / merge percents (libhdf5 defaults)
    tw.u64(rootAddr2)
    tw.u16(rootNRec)
    tw.u64(recs.size.toLong)
    tw.u32(lookup3(tw.out.toByteArray, 0, tw.pos, 0).toLong & 0xFFFFFFFFL)
    w.bytes(tw.out.toByteArray)
    (fhAddr, btAddr)
  }

  /** Write a dataset's chunks under a LAYOUT-v4 chunk index (1 =
    * single chunk, 2 = implicit, 3 = fixed array) and emit the v4
    * layout message body into `lo`. Per-dim encoding width is the
    * libhdf5 minimum; fixed-array structures (FAHD + FADB, paged
    * past 2^faPageBits chunks) carry their real Jenkins-lookup3
    * checksums, computed exactly as libhdf5's cache serializers do
    * (block checksum covers header + page bitmap; page checksums
    * cover their own elements). */
  private def writeV4Chunked(w: Wr, d: H5Enc, raw: Array[Byte],
      idx: Int, lo: Wr): Unit = {
    val elem = encElem(d)
    val cd = d.chunkDims.get
    val grid = d.dims.zip(cd).map { case (n, c) => (n + c - 1) / c }
    val filtered = d.shuffle || d.gzipLevel > 0
    val chunks = gatherChunks(d, raw)
    def limitEnc(v: Long): Int = log2gen(v) / 8 + 1
    val encLen = (cd.map(_.toLong) :+ elem.toLong).map(limitEnc).max
    lo.u8(4).u8(2) // version 4, chunked
    lo.u8(if (idx == 1 && filtered) 0x02 else 0x00) // single-with-filter
    lo.u8(d.dims.size + 1).u8(encLen)
    def dimOut(v: Long): Unit = {
      var i = 0; var x = v
      while (i < encLen) { lo.u8((x & 0xFF).toInt); x >>= 8; i += 1 }
    }
    cd.foreach(c => dimOut(c.toLong))
    dimOut(elem.toLong)
    lo.u8(idx)
    idx match {
      case 1 => // single chunk: the one (possibly filtered) chunk
        require(grid.product == 1, "single-chunk index needs one chunk")
        w.pad(8); val a = w.pos.toLong; w.bytes(chunks.head._2)
        if (filtered) { lo.u64(chunks.head._2.length.toLong); lo.u32(0L) }
        lo.u64(a)
      case 2 => // implicit: unfiltered chunks at fixed stride
        require(!filtered, "implicit index cannot carry filters")
        w.pad(8); val a = w.pos.toLong
        chunks.foreach(c => w.bytes(c._2))
        lo.u64(a)
      case 3 => // fixed array
        val addrs = chunks.map { c =>
          w.pad(8); val a = w.pos.toLong; w.bytes(c._2); a
        }
        val client = if (filtered) 1 else 0
        // libhdf5's encoded-chunk-size width: one byte past the bytes
        // of the UNFILTERED chunk size (H5D__farray_crt_context)
        val szLen = math.min(8, 1 + (log2gen(cd.product.toLong * elem) + 8) / 8)
        val entrySize = if (filtered) 8 + szLen + 4 else 8
        val pageBits = d.faPageBits
        val pageN = 1L << pageBits
        val nChunks = chunks.size
        // FAHD is 28 fixed bytes from an 8-aligned address, so the
        // FADB address is known before either block is emitted
        w.pad(8)
        val fahd = w.pos.toLong
        val dblk = fahd + 32
        val hb = new Wr
        hb.ascii("FAHD").u8(0).u8(client).u8(entrySize).u8(pageBits)
        hb.u64(nChunks.toLong).u64(dblk)
        hb.u32(lookup3(hb.out.toByteArray, 0, hb.pos, 0).toLong & 0xFFFFFFFFL)
        w.bytes(hb.out.toByteArray)
        w.pad(8)
        require(w.pos == dblk, "fixed-array data block address drifted")
        def elemOut(bw: Wr, i: Int): Unit = {
          bw.u64(addrs(i))
          if (filtered) {
            var x = chunks(i)._2.length.toLong; var k = 0
            while (k < szLen) { bw.u8((x & 0xFF).toInt); x >>= 8; k += 1 }
            bw.u32(0L) // filter mask: every filter applied
          }
        }
        val bb = new Wr
        bb.ascii("FADB").u8(0).u8(client).u64(fahd)
        if (nChunks > pageN) { // paged: all-initialized page bitmap
          val npages = ((nChunks + pageN - 1) / pageN).toInt
          (0 until (npages + 7) / 8).foreach { bi =>
            var bits = 0
            (0 until 8).foreach(k => if (bi * 8 + k < npages) bits |= 1 << k)
            bb.u8(bits)
          }
          bb.u32(lookup3(bb.out.toByteArray, 0, bb.pos, 0).toLong & 0xFFFFFFFFL)
          var i = 0
          while (i < nChunks) {
            val pw = new Wr
            val end = math.min(i + pageN.toInt, nChunks)
            (i until end).foreach(elemOut(pw, _))
            pw.u32(lookup3(pw.out.toByteArray, 0, pw.pos, 0).toLong & 0xFFFFFFFFL)
            bb.bytes(pw.out.toByteArray)
            i = end
          }
        } else {
          (0 until nChunks).foreach(elemOut(bb, _))
          bb.u32(lookup3(bb.out.toByteArray, 0, bb.pos, 0).toLong & 0xFFFFFFFFL)
        }
        w.bytes(bb.out.toByteArray)
        lo.u8(pageBits)
        lo.u64(fahd)
      case 4 => // extensible array: EAHD + EAIB index block with
        // direct elements and index-block-direct EADB data blocks
        val addrs = chunks.map { c =>
          w.pad(8); val a = w.pos.toLong; w.bytes(c._2); a
        }
        val client = if (filtered) 1 else 0
        val szLen = math.min(8, 1 + (log2gen(cd.product.toLong * elem) + 8) / 8)
        val elmtSize = if (filtered) 8 + szLen + 4 else 8
        // pageBits = 5 (32-element pages): ≥ the largest direct data
        // block (so the direct range is never paged, as in libhdf5)
        // and < the u=5 super-block class's 64-element blocks, so a
        // fixture past ~252 chunks exercises PAGED data blocks
        val maxBits = 32; val idxElmts = 4; val dblkMin = 8
        val sblkMinPtrs = 4; val pageBits = 5
        val pageElmts = 1 << pageBits
        val arrOffSize = 4
        val geometry = eaDirectGeometry(dblkMin, sblkMinPtrs)
        val n = chunks.size
        // super-block classes past the direct range, until capacity
        // covers the chunk count (class u: 2^⌊u/2⌋ data blocks of
        // 2^⌈u/2⌉·dblkMin elements; paged when that exceeds a page)
        case class EaSblk(nd: Int, ne: Int, start: Int) {
          def paged: Boolean = ne > pageElmts
          def npages: Int = if (paged) ne / pageElmts else 0
          def bmpBytes: Int = if (paged) (nd * npages + 7) / 8 else 0
          def size: Long = 14L + arrOffSize + bmpBytes + nd * 8 + 4
          def dblkSize: Long =
            if (paged) 14L + arrOffSize + 4 +
              npages.toLong * (pageElmts.toLong * elmtSize + 4)
            else 14L + arrOffSize + ne.toLong * elmtSize + 4
        }
        val sblks = {
          val b = Vector.newBuilder[EaSblk]
          var cap = idxElmts + geometry.sum
          var u = 2 * log2gen(sblkMinPtrs.toLong)
          while (cap < n) {
            val nd = 1 << (u / 2)
            val ne = (1 << ((u + 1) / 2)) * dblkMin
            b += EaSblk(nd, ne, cap)
            cap += nd * ne
            u += 1
          }
          b.result()
        }
        // how many DIRECT data blocks this chunk count needs
        var needDblks = 0; var covered = idxElmts
        while (covered < n && needDblks < geometry.size) {
          covered += geometry(needDblks); needDblks += 1
        }
        // deterministic layout: EAHD (72 bytes) → EAIB → direct
        // EADBs → per super block: EASB then its EADBs
        val nsblks = 1 + (maxBits - log2gen(dblkMin.toLong))
        val nsblkAddrs = nsblks - 2 * log2gen(sblkMinPtrs.toLong)
        require(sblks.size <= nsblkAddrs,
          "extensible-array fixture outgrew the super-block range")
        val nDirect = geometry.size
        w.pad(8)
        val eahd = w.pos.toLong
        val iblkAddr = eahd + 72
        val iblkSize = 14 + idxElmts * elmtSize + nDirect * 8 +
          nsblkAddrs * 8 + 4
        def align8(x: Long) = (x + 7) / 8 * 8
        val dblkAddrs = new Array[Long](needDblks)
        var cur = align8(iblkAddr + iblkSize)
        (0 until needDblks).foreach { d =>
          dblkAddrs(d) = cur
          cur = align8(cur + 14 + arrOffSize + geometry(d) * elmtSize + 4)
        }
        // per super block: the EASB address, then its needed data
        // blocks' addresses (Undef slots for blocks wholly past n)
        val sblkAddrs = new Array[Long](sblks.size)
        val sblkDblkAddrs = new Array[Array[Long]](sblks.size)
        sblks.zipWithIndex.foreach { case (sb, si) =>
          cur = align8(cur)
          sblkAddrs(si) = cur
          cur = align8(cur + sb.size)
          val das = Array.fill(sb.nd)(Undef)
          var k = 0
          while (k < sb.nd && sb.start + k * sb.ne < n) {
            das(k) = cur
            cur = align8(cur + sb.dblkSize)
            k += 1
          }
          sblkDblkAddrs(si) = das
        }
        def elemOut(bw: Wr, i: Int): Unit =
          if (i >= n) { // allocated-but-unset slot
            bw.u64(Undef)
            if (filtered) { (0 until szLen).foreach(_ => bw.u8(0)); bw.u32(0L) }
          } else {
            bw.u64(addrs(i))
            if (filtered) {
              var x = chunks(i)._2.length.toLong; var k = 0
              while (k < szLen) { bw.u8((x & 0xFF).toInt); x >>= 8; k += 1 }
              bw.u32(0L)
            }
          }
        val hb = new Wr
        hb.ascii("EAHD").u8(0).u8(client)
        hb.u8(elmtSize).u8(maxBits).u8(idxElmts).u8(dblkMin)
        hb.u8(sblkMinPtrs).u8(pageBits)
        hb.u64(sblks.size.toLong)
        hb.u64(sblks.map(_.size).sum)
        hb.u64(needDblks.toLong +
          sblkDblkAddrs.map(_.count(!isUndef(_))).sum)
        hb.u64((0 until needDblks)
          .map(d => 14L + arrOffSize + geometry(d) * elmtSize + 4).sum +
          sblks.zip(sblkDblkAddrs).map { case (sb, das) =>
            das.count(!isUndef(_)).toLong * sb.dblkSize }.sum)
        hb.u64(n.toLong).u64(n.toLong) // max index set, elements
        hb.u64(iblkAddr)
        hb.u32(lookup3(hb.out.toByteArray, 0, hb.pos, 0).toLong & 0xFFFFFFFFL)
        w.bytes(hb.out.toByteArray)
        require(w.pos == iblkAddr, "index block address drifted")
        val ib = new Wr
        ib.ascii("EAIB").u8(0).u8(client).u64(eahd)
        (0 until idxElmts).foreach(elemOut(ib, _))
        (0 until nDirect).foreach(d =>
          ib.u64(if (d < needDblks) dblkAddrs(d) else Undef))
        (0 until nsblkAddrs).foreach(si =>
          ib.u64(if (si < sblks.size) sblkAddrs(si) else Undef))
        ib.u32(lookup3(ib.out.toByteArray, 0, ib.pos, 0).toLong & 0xFFFFFFFFL)
        w.bytes(ib.out.toByteArray)
        var base = idxElmts
        (0 until needDblks).foreach { d =>
          w.pad(8)
          require(w.pos == dblkAddrs(d), "data block address drifted")
          val db = new Wr
          db.ascii("EADB").u8(0).u8(client).u64(eahd)
          // block offset: element index in the post-index-block space
          var x = (base - idxElmts).toLong; var k = 0
          while (k < arrOffSize) { db.u8((x & 0xFF).toInt); x >>= 8; k += 1 }
          (0 until geometry(d)).foreach(i => elemOut(db, base + i))
          db.u32(lookup3(db.out.toByteArray, 0, db.pos, 0).toLong & 0xFFFFFFFFL)
          w.bytes(db.out.toByteArray)
          base += geometry(d)
        }
        // super blocks: EASB (offset, page-init bitmap when its data
        // blocks are paged, data block addresses), then each needed
        // data block — unpaged like the direct range, or paged as
        // prefix+checksum followed by 2^pageBits-element pages with
        // per-page checksums. Bitmap: dblk-major page index,
        // LSB-first within bytes (the fixed-array pin); pages wholly
        // past the last chunk stay uninitialized — real growth
        // semantics, and the decoder's fill path gets exercised the
        // day a sparse writer appears.
        def u64At(bw: Wr, v: Long, nbytes: Int): Unit = {
          var x = v; var k = 0
          while (k < nbytes) { bw.u8((x & 0xFF).toInt); x >>= 8; k += 1 }
        }
        sblks.zipWithIndex.foreach { case (sb, si) =>
          w.pad(8)
          require(w.pos == sblkAddrs(si), "super block address drifted")
          val sw = new Wr
          sw.ascii("EASB").u8(0).u8(client).u64(eahd)
          u64At(sw, (sb.start - idxElmts).toLong, arrOffSize)
          if (sb.paged) {
            val bits = new Array[Int](sb.bmpBytes)
            var k = 0
            while (k < sb.nd) {
              if (!isUndef(sblkDblkAddrs(si)(k))) {
                var pg = 0
                while (pg < sb.npages &&
                  sb.start + k * sb.ne + pg * pageElmts < n) {
                  val bit = k * sb.npages + pg
                  bits(bit / 8) |= 1 << (bit % 8)
                  pg += 1
                }
              }
              k += 1
            }
            bits.foreach(sw.u8)
          }
          sblkDblkAddrs(si).foreach(sw.u64)
          sw.u32(lookup3(sw.out.toByteArray, 0, sw.pos, 0).toLong & 0xFFFFFFFFL)
          w.bytes(sw.out.toByteArray)
          var k = 0
          while (k < sb.nd) {
            val da = sblkDblkAddrs(si)(k)
            if (!isUndef(da)) {
              w.pad(8)
              require(w.pos == da, "sblk data block address drifted")
              val blkStart = sb.start + k * sb.ne
              val db = new Wr
              db.ascii("EADB").u8(0).u8(client).u64(eahd)
              u64At(db, (blkStart - idxElmts).toLong, arrOffSize)
              if (!sb.paged) {
                (0 until sb.ne).foreach(i => elemOut(db, blkStart + i))
                db.u32(lookup3(db.out.toByteArray, 0, db.pos, 0)
                  .toLong & 0xFFFFFFFFL)
              } else {
                // prefix carries its own checksum; pages follow
                db.u32(lookup3(db.out.toByteArray, 0, db.pos, 0)
                  .toLong & 0xFFFFFFFFL)
                var pg = 0
                while (pg < sb.npages) {
                  val pw = new Wr
                  (0 until pageElmts).foreach(i =>
                    elemOut(pw, blkStart + pg * pageElmts + i))
                  pw.u32(lookup3(pw.out.toByteArray, 0, pw.pos, 0)
                    .toLong & 0xFFFFFFFFL)
                  db.bytes(pw.out.toByteArray)
                  pg += 1
                }
              }
              w.bytes(db.out.toByteArray)
            }
            k += 1
          }
        }
        lo.u8(maxBits).u8(idxElmts).u8(sblkMinPtrs).u8(dblkMin).u8(pageBits)
        lo.u64(eahd)
      case 5 => // v2 B-tree: records (addr, [size+mask], scaled
        // offsets) in chunk-coordinate order — row-major grid order
        // IS the tree order — as a depth-0 root leaf
        val addrs = chunks.map { c =>
          w.pad(8); val a = w.pos.toLong; w.bytes(c._2); a
        }
        val rank = d.dims.size
        val szLen = math.min(8, 1 + (log2gen(cd.product.toLong * elem) + 8) / 8)
        val recType = if (filtered) 11 else 10
        val recSize = 8 + (if (filtered) szLen + 4 else 0) + rank * 8
        val nodeSize = math.max(512,
          java.lang.Integer.highestOneBit(10 + chunks.size * recSize - 1) * 2)
        w.pad(8)
        val leaf = w.pos.toLong
        val lw = new Wr
        lw.ascii("BTLF").u8(0).u8(recType)
        chunks.zip(addrs).foreach { case ((off, data), a) =>
          lw.u64(a)
          if (filtered) {
            var x = data.length.toLong; var k = 0
            while (k < szLen) { lw.u8((x & 0xFF).toInt); x >>= 8; k += 1 }
            lw.u32(0L)
          }
          off.zip(cd).foreach { case (o, c) => lw.u64(o.toLong / c) }
        }
        lw.u32(lookup3(lw.out.toByteArray, 0, lw.pos, 0).toLong & 0xFFFFFFFFL)
        w.bytes(lw.out.toByteArray)
        w.pad(8)
        val btAddr = w.pos.toLong
        val tw = new Wr
        tw.ascii("BTHD").u8(0).u8(recType)
        tw.u32(nodeSize.toLong).u16(recSize).u16(0)
        tw.u8(100).u8(40)
        tw.u64(leaf).u16(chunks.size).u64(chunks.size.toLong)
        tw.u32(lookup3(tw.out.toByteArray, 0, tw.pos, 0).toLong & 0xFFFFFFFFL)
        w.bytes(tw.out.toByteArray)
        lo.u32(nodeSize.toLong).u8(100).u8(40)
        lo.u64(btAddr)
      case other =>
        throw new IllegalArgumentException(s"v4 index $other not writable")
    }
  }

  // ---------------------------------------------------- drop seam

  /** files(name, content) → long rows (file, dataset, idx, value) +
    * quarantine frame — the NetCDF-4/HDF5 member of the binary-drop
    * codec family. String datasets (fixed-width and vlen) carry
    * their text in `sval` (numeric channels leave it null, string
    * channels leave `raw` at 0.0). */
  def decodeH5Drop(files: DataFrame): (DataFrame, DataFrame) = {
    val spark = files.sparkSession
    import spark.implicits._
    val decoded = files.select(col("name"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        decodeH5(bytes) match {
          case Left(reason) =>
            Iterator((false, name, reason, "", "", 0L, 0.0, 1.0, 0.0,
              null: String))
          case Right(ds) => ds.iterator.flatMap { d =>
            val scale = d.attrs.find(_.name == "scale_factor")
              .flatMap(_.num).getOrElse(1.0)
            val offs = d.attrs.find(_.name == "add_offset")
              .flatMap(_.num).getOrElse(0.0)
            if (d.strs != null)
              d.strs.iterator.zipWithIndex.map { case (s, i) =>
                (true, name, null: String, d.name, d.dtype, i.toLong,
                  0.0, scale, offs, s)
              }
            else d.values.iterator.zipWithIndex.map { case (v, i) =>
              (true, name, null: String, d.name, d.dtype, i.toLong,
                v, scale, offs, null: String)
            }
          }
        }
      }
      .toDF("ok", "name", "reason", "dataset", "dtype", "idx", "raw",
        "scale", "offset", "sval")
    (decoded.filter(col("ok")).drop("ok", "reason"),
      decoded.filter(!col("ok")).select(col("name"), col("reason")))
  }

  /** END-TO-END oracle-checked lane — the NetCDF-4 twin of
    * `grid_nc_decode`: the events grid renders in-plan into a REAL
    * HDF5 file (chunked 3×3, shuffle + DEFLATE, CF scale/offset
    * attributes, an int32 station-count dataset beside the f64
    * means, a 512-byte userblock so the superblock search is
    * exercised), decodes back through the real chunk-B-tree walk,
    * and emits CF-applied cell values. Bit-exact: the f64 payload
    * round-trips IEEE, the CF transform is the same two ops both
    * engines run, and the oracle recomputes everything from
    * events. */
  def gridH5Decode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = byCell(graft.Tables.events(spark, dir))
      .agg(microMean.as("v_us"),
        count(lit(1)).as("n_obs"))
    val doc = cellLattice(spark).join(cells, Seq("gy", "gx"), "left")
      .select(col("gy"), col("gx"),
        coalesce(col("v_us"), lit(0L)).as("v_us"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"))
      .groupBy()
      .agg(array_sort(collect_list(struct(
        (col("gy") * 8 + col("gx")).as("i"),
        col("v_us"), col("n_obs")))).as("px"))
      .as[Seq[(Long, Long, Long)]]
      .flatMap { px =>
        // store micro-unit longs as f64 (exact ≤ 2^53) with the CF
        // unpack scale to value units; the two datasets ship in the
        // TWO format families — classic v0 (userblock exercised) and
        // (r12) the checksummed v2 "latest" format — so every driver
        // run decodes both superblock generations
        val means = px.map(_._2.toDouble).toArray
        val counts = px.map(_._3.toDouble).toArray
        // compound payload: (mean_us f8, n i4) interleaved row-major
        val packed = px.flatMap(c =>
          Seq(c._2.toDouble, c._3.toDouble)).toArray
        Iterator(
          ("cds_grid.nc4", encodeH5(Seq(
            H5Enc("st", Seq(8, 8), "c", packed,
              cmembers = Seq(("m", "f8"), ("c", "i4"))),
            H5Enc("tp_us", Seq(8, 8), "f8", means,
              chunkDims = Some(Seq(3, 3)), gzipLevel = 6, shuffle = true,
              attrs = Seq(H5Attr("scale_factor", Some(1e-6), None),
                H5Attr("add_offset", Some(0.0), None),
                H5Attr("units", None, Some("mm"))))),
            userblock = 512)),
          // the latest-format file ships all three decodable LAYOUT-v4
          // chunk indexes (what 1.10+ libver=latest writes): a
          // filtered fixed array, a filtered single chunk carrying
          // the CF attrs, and an implicit (unfiltered) grid
          // datatype breadth: big-endian fixed/float (the byte-order
          // bit + BE payloads — legacy-converted NetCDF-4 products)
          // and a v3-compound (mean, count) record variable; the
          // classic file above carries the v1-compound twin
          ("cds_grid_be.nc4", encodeH5V2(Seq(
            H5Enc("n_obs_be", Seq(8, 8), "i4be", counts,
              chunkDims = Some(Seq(4, 4)), v4Index = Some(2)),
            H5Enc("tp_be_us", Seq(8, 8), "f8be", means,
              attrs = Seq(H5Attr("scale_factor", Some(1e-6), None),
                H5Attr("add_offset", Some(0.0), None))),
            H5Enc("cell_cx", Seq(8, 8), "c", packed,
              cmembers = Seq(("mean_us", "f8"), ("n", "i4")))))),
          ("cds_grid_latest.nc4", encodeH5V2(Seq(
            H5Enc("n_obs", Seq(8, 8), "i4", counts,
              chunkDims = Some(Seq(4, 8)), gzipLevel = 1,
              v4Index = Some(3)),
            H5Enc("tp2_us", Seq(8, 8), "f8", means,
              chunkDims = Some(Seq(8, 8)), gzipLevel = 6, shuffle = true,
              v4Index = Some(1),
              attrs = Seq(H5Attr("scale_factor", Some(1e-6), None),
                H5Attr("add_offset", Some(0.0), None))),
            H5Enc("n_obs_imp", Seq(8, 8), "i4", counts,
              chunkDims = Some(Seq(4, 4)), v4Index = Some(2)),
            H5Enc("n_obs_bt2", Seq(8, 8), "i4", counts,
              chunkDims = Some(Seq(2, 8)), gzipLevel = 1,
              v4Index = Some(5)),
            H5Enc("tp_ea_us", Seq(8, 8), "f8", means,
              chunkDims = Some(Seq(1, 8)), gzipLevel = 6, shuffle = true,
              v4Index = Some(4), // 8 chunks: spills past the index blk
              attrs = Seq(H5Attr("scale_factor", Some(1e-6), None),
                H5Attr("add_offset", Some(0.0), None))),
            // the daily-append year: 360 one-element chunks on an
            // unlimited-style axis — past the ~124-chunk
            // index-block-direct range into extensible-array SUPER
            // BLOCKS, with the u=5 class's 64-element data blocks
            // PAGED (32-element pages + per-page checksums) — the
            // first v4 shape real CDS NetCDF-4 growth hits
            H5Enc("tp_year_us", Seq(360), "f8",
              Array.tabulate(360)(t =>
                means(t % 64) + (t / 64).toDouble * 1e6),
              chunkDims = Some(Seq(1)), gzipLevel = 6, shuffle = true,
              v4Index = Some(4),
              attrs = Seq(H5Attr("scale_factor", Some(1e-6), None),
                H5Attr("add_offset", Some(0.0), None)))))))
      }.toDF("name", "content")
    val (rows, _) = decodeH5Drop(doc)
    rows.select(col("dataset"), col("dtype"),
      expr("idx div 8").as("gy"), (col("idx") % 8).as("gx"),
      (col("raw") * col("scale") + col("offset")).as("value"))
      .orderBy(col("dataset"), col("gy"), col("gx"))
  }

  /** STRING-dataset lane — the text side of NetCDF-4 datatype
    * breadth: per-cell labels derived from events render into a real
    * latest-format HDF5 file three ways (fixed-width null-terminated,
    * fixed-width space-padded, and variable-length strings through a
    * GCOL global heap — netCDF-4's NC_STRING shape), decode back
    * through the same walk, and emit (dataset, dtype, idx, sval).
    * Bit-exact: ASCII payloads round-trip verbatim and the oracle
    * recomputes every label from events. */
  def gridH5Text(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = byCell(graft.Tables.events(spark, dir))
      .agg(count(lit(1)).as("n_obs"))
    val doc = cellLattice(spark).join(cells, Seq("gy", "gx"), "left")
      .select((col("gy") * 8 + col("gx")).as("i"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("i"), col("n_obs"))))
        .as("px"))
      .as[Seq[(Long, Long)]]
      .map { px =>
        val tags = px.map(c => s"n${c._2}").toArray
        val notes = px.map(c => s"cell=${c._1};obs=${c._2}").toArray
        ("cds_labels.nc4", encodeH5V2(Seq(
          H5Enc("tag", Seq(64), "s8", null, svalues = tags),
          H5Enc("tag_sp", Seq(64), "S8", null, svalues = tags),
          H5Enc("note", Seq(64), "vs", null, svalues = notes))))
      }.toDF("name", "content")
    val (rows, _) = decodeH5Drop(doc)
    rows.select(col("dataset"), col("dtype"), col("idx"), col("sval"))
      .orderBy(col("dataset"), col("idx"))
  }
}
