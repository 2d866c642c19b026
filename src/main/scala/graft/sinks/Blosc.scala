package graft.sinks

/** Pure-JVM Blosc1 chunk codec (blosclz + byte shuffle) — closes the last
  * byte-parity gap with the reference store, which compresses every Zarr
  * chunk with `zarr.Blosc(cname='blosclz', clevel=9)`
  * (`sam_extract/writers/ZarrWriter.py:205`).
  *
  * Both layers are PUBLIC formats, implemented here from their published
  * specifications (c-blosc `blosc.h`/`blosc.c`/`blosclz.c`, BSD; blosclz is
  * FastLZ-derived and shares FastLZ's token grammar, MIT):
  *
  * == Frame layer (blosc1, version-format 2) ==
  * {{{
  * byte  0      version-format (2)
  * byte  1      codec format version (blosclz = 1)
  * byte  2      flags: 0x1 byte-shuffle | 0x2 memcpy'd | 0x4 bit-shuffle
  *                     | 0x10 dont-split | bits 5-7 codec id (blosclz = 0)
  * byte  3      typesize (1..255)
  * bytes 4-7    nbytes   (uncompressed length, int32 LE)
  * bytes 8-11   blocksize(int32 LE)
  * bytes 12-15  cbytes   (total frame length incl. header, int32 LE)
  * }}}
  * After the header: memcpy'd frames carry the raw bytes verbatim. Compressed
  * frames carry `nblocks` int32-LE `bstarts` (each block's absolute offset
  * from frame start), then the blocks. Each block is byte-shuffled
  * independently (plane-transposed in units of `typesize`), then cut into
  * `nsplits` equal streams, where `nsplits = typesize` iff
  * `typesize <= 16 && blocksize/typesize >= 128` and the block is not the
  * leftover tail and flag 0x10 is clear — the decoder re-derives this, so the
  * writer must follow the same law. Every split is `[int32 LE csize][data]`;
  * `csize == splitsize` marks a verbatim (incompressible) split.
  *
  * == Codec layer (blosclz, format version 1) ==
  * A token stream; the first token is always a literal run.
  * {{{
  * literal  ctrl < 32:  run of (ctrl+1) raw bytes follows
  * match    ctrl >= 32: lencode = ctrl>>5, ofs = (ctrl&31)<<8
  *   lencode 1..6        copy lencode+2 bytes        (3..8)
  *   lencode 7           ext bytes chained while 255; copy 9 + sum
  *   then one low-distance byte `code`: distance = ofs + code + 1  (<= 8191)
  *   far escape: code == 255 && ofs == 31<<8 -> two more bytes, big-endian
  *               u16; distance = u16 + 8192                        (<= 73726)
  * }}}
  * Matches copy from already-written output (overlap allowed, distance 1 is
  * RLE). The writer here emits only near matches of length >= 4 and far
  * matches of length >= 6 — a strict subset of the grammar, so any c-blosc
  * reader decodes these frames; the reader accepts the full grammar.
  */
object Blosc {

  private final val FlagShuffle   = 0x01
  private final val FlagMemcpy    = 0x02
  private final val FlagBitshuf   = 0x04
  private final val FlagDontSplit = 0x10
  private final val MaxSplits     = 16
  private final val MinBufferSize = 128
  private final val MaxDistance   = 8191
  private final val MaxFarDist    = 65535 + MaxDistance - 1 // stored-form bound

  // ---------------------------------------------------------------- frame

  /** Compress `raw` into a blosc1 frame. Falls back to the memcpy'd form
    * whenever compression does not win, so the frame is never more than 16
    * bytes larger than the input — the same guarantee c-blosc makes. */
  def compress(raw: Array[Byte], typesize0: Int, shuffle: Boolean): Array[Byte] = {
    val n  = raw.length
    val ts = if (typesize0 >= 1 && typesize0 <= 255 && n % typesize0 == 0) typesize0 else 1
    val doShuffle = shuffle && ts > 1
    if (n == 0) return header(2, 0, ts, n, 0, 16, Array.emptyByteArray)
    val blocksize = { val t = math.min(n, 131072); t - (t % ts) }
    val nblocks   = (n + blocksize - 1) / blocksize
    val out       = new Array[Byte](16 + 4 * nblocks + n)
    var op        = 16 + 4 * nblocks
    val shuf      = if (doShuffle) new Array[Byte](blocksize) else null
    var b         = 0
    var fits      = true
    while (b < nblocks && fits) {
      val boff  = b * blocksize
      val bsize = math.min(blocksize, n - boff)
      putIntLE(out, 16 + 4 * b, op) // bstart
      val (buf, off) =
        if (doShuffle) { shuffleBytes(ts, raw, boff, bsize, shuf); (shuf, 0) }
        else (raw, boff)
      val leftover = bsize < blocksize
      val nsplits =
        if (ts <= MaxSplits && blocksize / ts >= MinBufferSize && !leftover) ts else 1
      val splitsize = bsize / nsplits
      var s = 0
      while (s < nsplits && fits) {
        if (op + 4 + splitsize > out.length) fits = false
        else {
          val cs = blosclzCompress(buf, off + s * splitsize, splitsize, out, op + 4, splitsize - 1)
          if (cs > 0) { putIntLE(out, op, cs); op += 4 + cs }
          else { // incompressible split: verbatim, marked by csize == splitsize
            putIntLE(out, op, splitsize)
            System.arraycopy(buf, off + s * splitsize, out, op + 4, splitsize)
            op += 4 + splitsize
          }
        }
        s += 1
      }
      b += 1
    }
    if (!fits || op >= 16 + n) { // no win: memcpy'd frame, raw payload
      header(2, FlagMemcpy, ts, n, blocksize, 16 + n, raw)
    } else {
      val frame = java.util.Arrays.copyOf(out, op)
      writeHeader(frame, 2, if (doShuffle) FlagShuffle else 0, ts, n, blocksize, op)
      frame
    }
  }

  /** Decompress a blosc1 frame (blosclz payloads only — the only codec the
    * graft store writes; foreign codecs fail loudly). */
  def decompress(frame: Array[Byte]): Array[Byte] = {
    require(frame.length >= 16, "blosc frame shorter than its header")
    val flags     = frame(2) & 0xff
    val ts        = frame(3) & 0xff
    val nbytes    = getIntLE(frame, 4)
    val blocksize = getIntLE(frame, 8)
    val cbytes    = getIntLE(frame, 12)
    require(nbytes >= 0 && cbytes >= 16 && cbytes <= frame.length, s"corrupt blosc header ($nbytes/$cbytes)")
    require((flags & FlagBitshuf) == 0, "blosc bit-shuffle filter not supported")
    require((flags >> 5) == 0, s"blosc codec ${flags >> 5} not supported (blosclz only)")
    val out = new Array[Byte](nbytes)
    if (nbytes == 0) return out
    if ((flags & FlagMemcpy) != 0) {
      require(cbytes == 16 + nbytes, "corrupt memcpy'd blosc frame")
      System.arraycopy(frame, 16, out, 0, nbytes)
      return out
    }
    require(blocksize > 0, "corrupt blosc header (blocksize 0)")
    val nblocks   = (nbytes + blocksize - 1) / blocksize
    val dontSplit = (flags & FlagDontSplit) != 0
    val doShuffle = (flags & FlagShuffle) != 0 && ts > 1
    val shuf      = if (doShuffle) new Array[Byte](blocksize) else null
    var b = 0
    while (b < nblocks) {
      val boff  = b * blocksize
      val bsize = math.min(blocksize, nbytes - boff)
      var ip    = getIntLE(frame, 16 + 4 * b)
      require(ip >= 16 + 4 * nblocks && ip <= frame.length, "corrupt bstart")
      val leftover = bsize < blocksize
      val nsplits =
        if (!dontSplit && ts <= MaxSplits && blocksize / ts >= MinBufferSize && !leftover) ts
        else 1
      val splitsize = bsize / nsplits
      val dst = if (doShuffle) shuf else out
      val dstOff = if (doShuffle) 0 else boff
      var s = 0
      while (s < nsplits) {
        require(ip + 4 <= frame.length, "truncated blosc split header")
        val cs = getIntLE(frame, ip)
        ip += 4
        require(cs > 0 && ip + cs <= frame.length, s"corrupt blosc split size $cs")
        if (cs == splitsize) System.arraycopy(frame, ip, dst, dstOff + s * splitsize, splitsize)
        else blosclzDecompress(frame, ip, cs, dst, dstOff + s * splitsize, splitsize)
        ip += cs
        s += 1
      }
      if (doShuffle) unshuffleBytes(ts, shuf, 0, bsize, out, boff)
      b += 1
    }
    out
  }

  private def header(version: Int, flags: Int, ts: Int, nbytes: Int, blocksize: Int, cbytes: Int, payload: Array[Byte]): Array[Byte] = {
    val f = new Array[Byte](16 + payload.length)
    writeHeader(f, version, flags, ts, nbytes, blocksize, cbytes)
    System.arraycopy(payload, 0, f, 16, payload.length)
    f
  }

  private def writeHeader(f: Array[Byte], version: Int, flags: Int, ts: Int, nbytes: Int, blocksize: Int, cbytes: Int): Unit = {
    f(0) = version.toByte
    f(1) = 1 // blosclz format version
    f(2) = flags.toByte
    f(3) = ts.toByte
    putIntLE(f, 4, nbytes)
    putIntLE(f, 8, blocksize)
    putIntLE(f, 12, cbytes)
  }

  private def putIntLE(a: Array[Byte], off: Int, v: Int): Unit = {
    a(off) = v.toByte; a(off + 1) = (v >> 8).toByte
    a(off + 2) = (v >> 16).toByte; a(off + 3) = (v >> 24).toByte
  }

  private def getIntLE(a: Array[Byte], off: Int): Int =
    (a(off) & 0xff) | ((a(off + 1) & 0xff) << 8) | ((a(off + 2) & 0xff) << 16) | ((a(off + 3) & 0xff) << 24)

  // -------------------------------------------------------------- shuffle

  /** Byte (plane) shuffle of one block: out[j*nel + i] = in[i*ts + j]. */
  private[sinks] def shuffleBytes(ts: Int, in: Array[Byte], off: Int, len: Int, out: Array[Byte]): Unit = {
    val nel = len / ts
    var j = 0
    while (j < ts) {
      var i = 0
      var w = j * nel
      var r = off + j
      while (i < nel) { out(w) = in(r); w += 1; r += ts; i += 1 }
      j += 1
    }
  }

  private[sinks] def unshuffleBytes(ts: Int, in: Array[Byte], off: Int, len: Int, out: Array[Byte], outOff: Int): Unit = {
    val nel = len / ts
    var j = 0
    while (j < ts) {
      var i = 0
      var r = off + j * nel
      var w = outOff + j
      while (i < nel) { out(w) = in(r); r += 1; w += ts; i += 1 }
      j += 1
    }
  }

  // -------------------------------------------------------------- blosclz

  /** Greedy hash-chain LZ over `src[off, off+len)` into `out[outOff, ...)`,
    * bounded by `maxOut` bytes. Returns the compressed length, or -1 when the
    * stream does not fit (caller stores the split verbatim — note `maxOut` is
    * passed as splitsize-1, because a compressed stream of EXACTLY splitsize
    * bytes would be indistinguishable from a verbatim split). */
  private[sinks] def blosclzCompress(src: Array[Byte], off: Int, len: Int, out: Array[Byte], outOff: Int, maxOut: Int): Int = {
    if (len < 16 || maxOut < 4) return -1
    val HashLog = 13
    val table   = new Array[Int](1 << HashLog)
    java.util.Arrays.fill(table, -1)
    @inline def hash(p: Int): Int = {
      val v = (src(p) & 0xff) | ((src(p + 1) & 0xff) << 8) | ((src(p + 2) & 0xff) << 16)
      (v * 2654435761L >>> (32 - HashLog)).toInt & ((1 << HashLog) - 1)
    }
    val ipEnd  = off + len
    val opEnd  = outOff + maxOut
    var ip     = off
    var anchor = off
    var op     = outOff

    /** Emit pending literals [anchor, upTo) in runs of <= 32; false on overflow. */
    def flushLiterals(upTo: Int): Boolean = {
      var a = anchor
      while (a < upTo) {
        val run = math.min(32, upTo - a)
        if (op + 1 + run > opEnd) return false
        out(op) = (run - 1).toByte
        op += 1
        System.arraycopy(src, a, out, op, run)
        op += run
        a += run
      }
      true
    }

    def emitMatch(mlen: Int, dist: Int): Boolean = {
      val d = dist - 1
      if (d < MaxDistance) {
        if (mlen <= 8) {
          if (op + 2 > opEnd) return false
          out(op) = (((mlen - 2) << 5) | (d >> 8)).toByte
          out(op + 1) = (d & 0xff).toByte
          op += 2
        } else {
          if (op + 3 + (mlen - 9) / 255 > opEnd) return false
          out(op) = ((7 << 5) | (d >> 8)).toByte
          op += 1
          var ext = mlen - 9
          while (ext >= 255) { out(op) = 255.toByte; op += 1; ext -= 255 }
          out(op) = ext.toByte
          out(op + 1) = (d & 0xff).toByte
          op += 2
        }
      } else {
        val f = d - MaxDistance
        if (mlen <= 8) {
          if (op + 4 > opEnd) return false
          out(op) = (((mlen - 2) << 5) | 31).toByte
          out(op + 1) = 255.toByte
          out(op + 2) = (f >> 8).toByte
          out(op + 3) = (f & 0xff).toByte
          op += 4
        } else {
          if (op + 5 + (mlen - 9) / 255 > opEnd) return false
          out(op) = ((7 << 5) | 31).toByte
          op += 1
          var ext = mlen - 9
          while (ext >= 255) { out(op) = 255.toByte; op += 1; ext -= 255 }
          out(op) = ext.toByte
          out(op + 1) = 255.toByte
          out(op + 2) = (f >> 8).toByte
          out(op + 3) = (f & 0xff).toByte
          op += 4
        }
      }
      true
    }

    while (ip + 4 <= ipEnd - 1) { // room for a 4-byte match + 1 tail literal
      val h = hash(ip)
      val c = table(h)
      table(h) = ip
      val dist = ip - c
      if (c >= off && dist - 1 <= MaxFarDist &&
          src(c) == src(ip) && src(c + 1) == src(ip + 1) &&
          src(c + 2) == src(ip + 2) && src(c + 3) == src(ip + 3)) {
        var mlen = 4
        val cap = ipEnd - ip
        while (mlen < cap && src(c + mlen) == src(ip + mlen)) mlen += 1
        // never consume the final input byte inside a match: c-blosc's own
        // streams always end in a literal, and some decoders rely on it
        if (mlen == cap) mlen -= 1
        val worth = if (dist - 1 < MaxDistance) mlen >= 4 else mlen >= 6
        if (worth) {
          if (!flushLiterals(ip) || !emitMatch(mlen, dist)) return -1
          // bounded table refresh inside the match (FastLZ updates 2):
          // full-coverage updates cost O(mlen) on RLE-like runs for no
          // measurable ratio gain on the store's chunk profiles
          val stop = math.min(ip + math.min(mlen, 8), ipEnd - 3)
          var p = ip + 1
          while (p < stop) { table(hash(p)) = p; p += 1 }
          ip += mlen
          anchor = ip
        } else ip += 1
      } else ip += 1
    }
    if (!flushLiterals(ipEnd)) return -1
    op - outOff
  }

  /** Decode a blosclz stream of `srcLen` bytes into exactly `dstLen` bytes.
    * Accepts the full public grammar (near/far, short/long, chained length
    * extensions); throws on any malformed or overrunning stream. */
  private[graft] def blosclzDecompress(src: Array[Byte], srcOff: Int, srcLen: Int, dst: Array[Byte], dstOff: Int, dstLen: Int): Unit = {
    val ipEnd = srcOff + srcLen
    val opEnd = dstOff + dstLen
    require(srcLen > 0, "empty blosclz stream")
    var ip   = srcOff
    var op   = dstOff
    var ctrl = src(ip) & 31
    ip += 1
    var loop = true
    while (loop) {
      if (ctrl >= 32) {
        var len = (ctrl >> 5) - 1
        val ofs = (ctrl & 31) << 8
        if (len == 6) {
          var code = 0
          do {
            require(ip < ipEnd, "truncated blosclz length")
            code = src(ip) & 0xff; ip += 1; len += code
          } while (code == 255)
        }
        require(ip < ipEnd, "truncated blosclz distance")
        val code = src(ip) & 0xff
        ip += 1
        len += 3
        var dist = ofs + code + 1
        if (code == 255 && ofs == (31 << 8)) {
          require(ip + 1 < ipEnd, "truncated blosclz far distance")
          dist = (((src(ip) & 0xff) << 8) | (src(ip + 1) & 0xff)) + MaxDistance + 1
          ip += 2
        }
        var ref = op - dist
        require(ref >= dstOff && op + len <= opEnd, "corrupt blosclz match")
        while (len > 0) { dst(op) = dst(ref); op += 1; ref += 1; len -= 1 }
      } else {
        val run = ctrl + 1
        require(ip + run <= ipEnd && op + run <= opEnd, "corrupt blosclz literal run")
        System.arraycopy(src, ip, dst, op, run)
        ip += run
        op += run
      }
      if (ip < ipEnd) { ctrl = src(ip) & 0xff; ip += 1 }
      else loop = false
    }
    require(op == opEnd, s"blosclz stream decoded ${op - dstOff} of $dstLen bytes")
  }
}
