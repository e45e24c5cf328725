package graft

import graft.sources.Blosc

/** blosc1 container gate. The strongest case is HAND-ASSEMBLED from
  * the published header layout (c-blosc README_HEADER) with
  * stored-raw streams — fully independent of our encoder — then the
  * encoder/decoder round-trip battery covers every codec the
  * classpath provides, both split modes, shuffle, leftover blocks,
  * the memcpy fallback, and the quarantine reasons. */
class BloscSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def rt(raw: Array[Byte], typesize: Int, shuffle: Boolean,
      cname: String, blocksize: Int = 0): Array[Byte] = {
    val enc = Blosc.compress(raw, typesize, shuffle, cname, blocksize)
    Blosc.decompress(enc).toOption.get
  }

  test("hand-assembled container (stored-raw streams, no codec): header fields and shuffle decode per the published layout") {
    // payload: 8 int16-ish pairs = 16 bytes, typesize 2, one block.
    // With csize == neblock every stream is STORED — the decode path
    // exercises header parse, bstarts, split recompute and unshuffle
    // with zero dependence on any compression library.
    val raw = Array.tabulate[Byte](16)(i => (i * 7 + 3).toByte)
    // byte-shuffle with typesize 2 over 16 bytes: lane0 = even
    // positions, lane1 = odd positions
    val shuffled = (0 until 16 by 2).map(raw) ++ (1 until 16 by 2).map(raw)
    val b = java.nio.ByteBuffer.allocate(16 + 4 + 4 + 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // version 2, versionlz 1, flags: shuffle|dont_split|zlib codec,
    // typesize 2
    b.put(2.toByte).put(1.toByte)
      .put((0x01 | 0x10 | (3 << 5)).toByte).put(2.toByte)
    b.putInt(16)      // nbytes
    b.putInt(16)      // blocksize
    b.putInt(40)      // cbytes (total)
    b.putInt(20)      // bstarts[0]
    b.putInt(16)      // stream csize == neblock → stored raw
    shuffled.foreach(b.put)
    val got = Blosc.decompress(b.array()).toOption.get
    assert(got.toSeq === raw.toSeq)
    // same container with the shuffle bit clear: bytes pass through
    val plain = b.array().clone
    plain(2) = (0x10 | (3 << 5)).toByte
    assert(Blosc.decompress(plain).toOption.get.toSeq === shuffled)
  }

  test("round-trip battery: every classpath codec × shuffle × typesize × multi-block with leftover") {
    for (cname <- Seq("lz4", "snappy", "zlib", "zstd");
         typesize <- Seq(1, 4, 8);
         shuffle <- Seq(false, true);
         n <- Seq(0, 5, 256, 2000, 4099)) { // 4099: blocks + odd tail
      val raw = Array.tabulate[Byte](n)(i => ((i * 31 + i / 7) % 251).toByte)
      val got = rt(raw, typesize, shuffle, cname, blocksize = 1024)
      assert(got.toSeq === raw.toSeq,
        s"$cname ts=$typesize sh=$shuffle n=$n")
    }
  }

  test("split streams: lz4 at a splitting geometry engages the per-lane framing and round-trips") {
    // typesize 4, blocksize 2048 → blocksize/typesize = 512 ≥ 128 →
    // c-blosc splits: 4 streams per full block
    val raw = Array.tabulate[Byte](5000)(i => (i % 131).toByte)
    val enc = Blosc.compress(raw, typesize = 4, doShuffle = true, "lz4",
      blocksize0 = 2048)
    assert((enc(2) & 0x10) === 0, "dont-split bit clear → split mode")
    assert(Blosc.decompress(enc).toOption.get.toSeq === raw.toSeq)
    // zstd never splits (forward-compat split mode): bit set
    val encZ = Blosc.compress(raw, typesize = 4, doShuffle = true, "zstd",
      blocksize0 = 2048)
    assert((encZ(2) & 0x10) === 0x10, "zstd writes dont-split")
    assert(Blosc.decompress(encZ).toOption.get.toSeq === raw.toSeq)
  }

  test("memcpy fallback: incompressible bytes store verbatim behind the flag") {
    val rnd = new scala.util.Random(7)
    val raw = Array.fill[Byte](300)((rnd.nextInt(256) - 128).toByte)
    val enc = Blosc.compress(raw, typesize = 1, doShuffle = false, "lz4")
    assert((enc(2) & 0x02) === 0x02, "memcpy flag")
    assert(enc.length === 16 + raw.length)
    assert(Blosc.decompress(enc).toOption.get.toSeq === raw.toSeq)
  }

  test("bit-shuffle: hand-computed bit-plane vectors, every typesize round-trips, leftovers ride verbatim") {
    // HAND-COMPUTED vector, typesize 1, 8 elements: with one element
    // = 0x01, bit-plane 0 must carry exactly bit 0 of element 0; with
    // one element = 0x80, plane 7 carries bit 0. Verified against the
    // published bitshuffle definition (bit k of element j → plane k
    // bit j), not against our own decoder.
    def enc1(raw: Array[Byte]): Seq[Byte] = {
      // 8-byte inputs legitimately take the memcpy fallback (the
      // container never beats raw at that size) — the flag assertion
      // lives on the large compressible buffer below
      val c = Blosc.compress(raw, typesize = 1, doShuffle = false,
        "zlib", bitShuffle = true)
      Blosc.decompress(c).toOption.get.toSeq
    }
    val big = Array.tabulate[Byte](4096)(i => (i % 4).toByte)
    val bigC = Blosc.compress(big, typesize = 1, doShuffle = false,
      "zlib", bitShuffle = true)
    assert((bigC(2) & 0x04) === 0x04, "bit-shuffle flag set")
    assert((bigC(2) & 0x02) === 0, "really compressed, not memcpy")
    assert(Blosc.decompress(bigC).toOption.get.toSeq === big.toSeq)
    // round-trip sanity on the two unit vectors
    val e0 = Array[Byte](1, 0, 0, 0, 0, 0, 0, 0)
    val e7 = Array[Byte](0x80.toByte, 0, 0, 0, 0, 0, 0, 0)
    assert(enc1(e0) === e0.toSeq)
    assert(enc1(e7) === e7.toSeq)
    // the hand expectation proper: a stored-raw hand container whose
    // payload IS the expected bit-plane layout must decode to the
    // original elements. elements = [0x01,0,0,0,0,0,0,0] → plane 0
    // byte = 0b00000001 (bit j = bit 0 of element j), planes 1-7 = 0
    def handContainer(planes: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(16 + 4 + 4 + 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(2.toByte).put(1.toByte)
        .put((0x04 | 0x10 | (3 << 5)).toByte).put(1.toByte)
      b.putInt(8).putInt(8).putInt(32) // nbytes, blocksize, cbytes
      b.putInt(20)                     // bstarts[0]
      b.putInt(8)                      // csize == neblock → stored
      b.put(planes)
      b.array()
    }
    assert(Blosc.decompress(handContainer(
      Array[Byte](1, 0, 0, 0, 0, 0, 0, 0))).toOption.get.toSeq === e0.toSeq)
    assert(Blosc.decompress(handContainer(
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 1))).toOption.get.toSeq === e7.toSeq)
    // elements 0..7 = 0x01 << j each: plane k carries exactly element
    // k's bit → plane k byte = 1 << k (the identity matrix transposes
    // to itself)
    val ident = Array.tabulate[Byte](8)(j => (1 << j).toByte)
    assert(Blosc.decompress(handContainer(ident.clone))
      .toOption.get.toSeq === ident.toSeq)
    // typesize>1 hand vectors pin the CROSS-IMPLEMENTATION layout
    // (bitshuffle_core.c's three stages end LANE-MAJOR: byte lane
    // j's eight bit-row chunks of nel/8 bytes sit contiguous at
    // chunk (j*8 + k)), not just our own round trip. Stored-raw
    // hand containers are independent of our encoder.
    def handContainerN(planes: Array[Byte], typesize: Int): Array[Byte] = {
      val n = planes.length
      val b = java.nio.ByteBuffer.allocate(16 + 4 + 4 + n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(2.toByte).put(1.toByte)
        .put((0x04 | 0x10 | (3 << 5)).toByte).put(typesize.toByte)
      b.putInt(n).putInt(n).putInt(24 + n) // nbytes, blocksize, cbytes
      b.putInt(20)                         // bstarts[0]
      b.putInt(n)                          // csize == neblock → stored
      b.put(planes)
      b.array()
    }
    // typesize 2, 8 elements of (lo = 1<<i, hi = 0xFF): lane0 is the
    // identity bit matrix (plane k = 1<<k), lane1 all-ones (plane k
    // = 0xFF). Lane-major final layout = lane0's 8 planes then
    // lane1's — NOT the plane-interleaved [1,FF,2,FF,…] a two-stage
    // (trans_bitrow_eight-less) transform would produce.
    val raw2 = Array.tabulate[Byte](16)(p =>
      if (p % 2 == 0) (1 << (p / 2)).toByte else 0xFF.toByte)
    val shuf2 = Array.tabulate[Byte](16)(p =>
      if (p < 8) (1 << p).toByte else 0xFF.toByte)
    assert(Blosc.decompress(handContainerN(shuf2.clone, 2))
      .toOption.get.toSeq === raw2.toSeq,
      "typesize-2 lane-major bitshuffle layout (published 3-stage form)")
    val c2 = Blosc.compress(raw2, typesize = 2, doShuffle = false,
      "zlib", bitShuffle = true)
    assert(Blosc.decompress(c2).toOption.get.toSeq === raw2.toSeq)
    // typesize 4, 8 elements (1<<i, 0xFF, 0x00, i odd ? 0xFF : 0):
    // four lanes → identity planes, 0xFF×8, 0×8, 0xAA×8 (bit k of
    // byte m = [m odd] → Σ_{m odd} 1<<m = 0xAA), in lane order
    val raw4 = Array.tabulate[Byte](32) { p =>
      val i = p / 4
      (p % 4) match {
        case 0 => (1 << i).toByte
        case 1 => 0xFF.toByte
        case 2 => 0.toByte
        case _ => if (i % 2 == 1) 0xFF.toByte else 0.toByte
      }
    }
    val shuf4 = Array.tabulate[Byte](32) { q =>
      val lane = q / 8; val k = q % 8
      lane match {
        case 0 => (1 << k).toByte
        case 1 => 0xFF.toByte
        case 2 => 0.toByte
        case _ => 0xAA.toByte
      }
    }
    assert(Blosc.decompress(handContainerN(shuf4.clone, 4))
      .toOption.get.toSeq === raw4.toSeq,
      "typesize-4 lane-major bitshuffle layout")
    // gpl > 1 (16 elements, typesize 2): each lane's bit-row chunk
    // is TWO bytes (one per 8-element group) — plane k of lane 0
    // sits at bytes [2k, 2k+1] = [group0 plane, group1 plane]
    val raw16 = Array.tabulate[Byte](32)(p =>
      if (p % 2 == 1) 0.toByte
      else if (p / 2 < 8) (1 << (p / 2)).toByte else 0xFF.toByte)
    val shuf16 = Array.tabulate[Byte](32)(q =>
      if (q >= 16) 0.toByte
      else if (q % 2 == 0) (1 << (q / 2)).toByte else 0xFF.toByte)
    assert(Blosc.decompress(handContainerN(shuf16.clone, 2))
      .toOption.get.toSeq === raw16.toSeq,
      "two-group bit-row chunks interleave per lane (gpl=2)")
    // full battery: every codec × typesize × size (incl. non-multiple
    // -of-8 element counts → verbatim leftovers) round-trips
    for (cname <- Seq("lz4", "snappy", "zlib", "zstd");
         typesize <- Seq(1, 2, 4, 8);
         n <- Seq(0, 5, 64, 257, 2000, 4099)) {
      val raw = Array.tabulate[Byte](n)(i => ((i * 37 + i / 5) % 253).toByte)
      val enc = Blosc.compress(raw, typesize, doShuffle = false, cname,
        blocksize0 = 1024, bitShuffle = true)
      assert(Blosc.decompress(enc).toOption.get.toSeq === raw.toSeq,
        s"$cname ts=$typesize n=$n")
    }
  }

  test("quarantines: blosclz, conflicting shuffle flags, truncation, bad version/header never throw") {
    def reason(b: Array[Byte]): String =
      Blosc.decompress(b).left.toOption.get
    val good = Blosc.compress(
      Array.tabulate[Byte](1024)(i => (i % 16).toByte), 4, true, "lz4")
    assert((good(2) & 0x02) === 0, "fixture really compressed")
    assert(Blosc.decompress(good).isRight)
    assert(reason(Array[Byte](2, 1)) === "blosc_truncated_header")
    val v9 = good.clone; v9(0) = 9
    assert(reason(v9) === "blosc_bad_version")
    val blosclz = good.clone
    blosclz(2) = (blosclz(2) & 0x1F).toByte // codec bits → 0
    assert(reason(blosclz) === "blosclz_unsupported")
    // byte- AND bit-shuffle together is not a c-blosc state
    val both = good.clone
    both(2) = (both(2) | 0x04).toByte // shuffle bit already set
    assert(reason(both) === "blosc_bad_flags")
    assert(Blosc.decompress(good.take(20)).isLeft)
    // corrupt a content byte: either the codec throws (malformed) or
    // the size check trips — never an exception out of decompress
    val corrupt = good.clone
    corrupt(good.length - 1) = (corrupt(good.length - 1) ^ 0xFF).toByte
    Blosc.decompress(corrupt) match {
      case Left(r) => assert(r.nonEmpty)
      case Right(out) => assert(out.length === 1024) // lz4 may tolerate
    }
  }

  test("zarr chunk seam: a blosc-compressed chunk decodes through decodeChunk; foreign bytes still quarantine") {
    import graft.sources.Zarr
    import graft.sources.Zarr.{ZCell, ZChunkIn}
    val raw = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putDouble(1.25).putDouble(-7.5).putDouble(42.0).array()
    val enc = CodecFixtures.compressChunk(raw, Some("blosc"))
    val c = ZChunkIn("v", "v/0", enc, Seq(3), Seq(3), "<f8",
      Some("blosc"), Some("C"), has_filters = false)
    assert(Zarr.decodeChunk(c).toOption.get.toSeq === Seq(
      ZCell("v", 0, 0, 0, 1.25), ZCell("v", 1, 0, 0, -7.5),
      ZCell("v", 2, 0, 0, 42.0)))
    val bad = c.copy(content = raw) // not a blosc container
    assert(Zarr.decodeChunk(bad).left.toOption.get === "undecodable_chunk")
  }
}
