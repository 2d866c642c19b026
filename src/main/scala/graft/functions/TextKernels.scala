package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass per-document text kernels.
  *
  * Winnowing and SimHash are embarrassingly per-document, but their
  * relational forms (posexplode every k-gram / token, shuffle into a
  * per-doc window or a 32-sum aggregate) pay two full shuffles of the
  * EXPLODED stream — ~50× the document count. These expressions compute
  * the whole per-document result in one generated-code pass over the
  * UTF-8 bytes, so the only rows that ever move are final fingerprints.
  * Results are bit-identical to the relational forms (same md5-prefix
  * hashes, same packing arithmetic) and to the DuckDB oracle.
  */
object TextKernelFns {

  /** Word n-grams of a single-space-tokenized string, as byte slices of
    * the input (the gram text from token i to token i+n-1 is exactly the
    * source bytes between those tokens' bounds — same separator in and
    * out). Empty array for null input or fewer than n tokens; `distinct`
    * keeps first-occurrence order (array_distinct semantics). 0x20 never
    * occurs inside a UTF-8 multibyte sequence, so the byte scan is safe. */
  def wordGrams(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val b = text.getBytes
    var nTok = 1
    var i = 0
    while (i < b.length) { if (b(i) == ' ') nTok += 1; i += 1 }
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](nTok)
    val ends   = new Array[Int](nTok)
    var t = 0
    i = 0
    while (i < b.length) {
      if (b(i) == ' ') { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = b.length
    val m = nTok - n + 1
    if (!distinct) {
      val out = new Array[Any](m)
      var j = 0
      while (j < m) {
        out(j) = UTF8String.fromBytes(b, starts(j), ends(j + n - 1) - starts(j))
        j += 1
      }
      new GenericArrayData(out)
    } else {
      val seen = new java.util.HashSet[UTF8String](m * 2)
      val out  = new java.util.ArrayList[Any](m)
      var j = 0
      while (j < m) {
        val g = UTF8String.fromBytes(b, starts(j), ends(j + n - 1) - starts(j))
        if (seen.add(g)) out.add(g)
        j += 1
      }
      new GenericArrayData(out.toArray)
    }
  }

  /** Word n-gram OCCURRENCE counts of a single-space-tokenized string:
    * (gram, occ) struct rows in first-occurrence order — the per-row form
    * of `groupBy(id, gram).count()` over the exploded gram stream (one
    * document's grams all come from one source row, so the aggregate needs
    * no exchange). Same tokenization and byte-slice gram construction as
    * [[wordGrams]]; empty array for null input or fewer than n tokens. */
  def wordGramCounts(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val b = text.getBytes
    var nTok = 1
    var i = 0
    while (i < b.length) { if (b(i) == ' ') nTok += 1; i += 1 }
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](nTok)
    val ends   = new Array[Int](nTok)
    var t = 0
    i = 0
    while (i < b.length) {
      if (b(i) == ' ') { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = b.length
    val m = nTok - n + 1
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]](m * 2)
    var j = 0
    while (j < m) {
      val g = UTF8String.fromBytes(b, starts(j), ends(j + n - 1) - starts(j))
      val c = counts.get(g)
      if (c == null) counts.put(g, Array(1L)) else c(0) += 1L
      j += 1
    }
    val out = new Array[Any](counts.size)
    val it  = counts.entrySet().iterator()
    var o = 0
    while (it.hasNext) {
      val e = it.next()
      out(o) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, e.getValue()(0)))
      o += 1
    }
    new GenericArrayData(out)
  }

  /** Character (code point) start offsets of a UTF-8 byte array. A char
    * start is any byte not matching 10xxxxxx. */
  private def charStarts(b: Array[Byte]): Array[Int] = {
    val starts = new Array[Int](b.length)
    var n = 0
    var i = 0
    while (i < b.length) {
      if ((b(i) & 0xc0) != 0x80) { starts(n) = i; n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(starts, n)
  }

  private def hash32(md: FastMD5, d: Array[Byte], b: Array[Byte], off: Int, len: Int): Long = {
    md.digest(FastMD5.EmptyPrefix, b, off, len, d)
    // first 8 hex chars of the digest = first 4 bytes, unsigned
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  private def hash60(md: FastMD5, d: Array[Byte], b: Array[Byte], off: Int, len: Int): Long = {
    md.digest(FastMD5.EmptyPrefix, b, off, len, d)
    // first 15 hex chars = bytes 0..6 plus the high nibble of byte 7
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** Winnowing fingerprint selection (Schleimer et al. 2003, robust
    * winnowing): hash every k-gram of the character stream (md5 first-8-hex
    * prefix), slide a window of `w` hashes, keep each complete window's
    * minimum with rightmost-on-ties, dedupe. Returns the distinct selected
    * fingerprints as packed longs `hash * 2^31 + (2^31-1 - pos)`, sorted by
    * position — identical packing to the SQL oracle. */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes  = text.getBytes
    val starts = charStarts(bytes)
    val n      = starts.length
    val g      = n - k + 1          // number of k-grams
    if (g < w) return new GenericArrayData(Array.emptyLongArray)
    val md     = new FastMD5
    val dig    = new Array[Byte](16)
    val packed = new Array[Long](g)
    var i = 0
    while (i < g) {
      val off = starts(i)
      val end = if (i + k < n) starts(i + k) else bytes.length
      packed(i) = hash32(md, dig, bytes, off, end - off) * 2147483648L + (2147483647L - i)
      i += 1
    }
    // sliding min over w consecutive hashes; selections dedupe via a set
    val sel = new java.util.HashSet[Long]()
    var t = w - 1
    while (t < g) {
      var m = packed(t)
      var j = t - w + 1
      while (j < t) { if (packed(j) < m) m = packed(j); j += 1 }
      sel.add(m)
      t += 1
    }
    val out = new Array[Long](sel.size)
    val it  = sel.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    // sort by position ascending = packed descending within a hash, but the
    // caller re-sorts; sort ascending for a deterministic array layout
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  /** MinHash signatures over word n-gram shingles in one pass: split on
    * single spaces (empty words included, mirroring `split(text, ' ')`),
    * shingle i = the original byte span from word i through word i+n-1
    * (single-space joins make the span identical to `array_join(slice)`),
    * per-seed hash = md5 over "seed|" + shingle, minimum taken by unsigned
    * digest comparison (hex encoding is order-preserving, so this equals
    * the oracle's lexicographic min over hex strings). Duplicate shingles
    * cannot change a minimum, so the relational form's `distinct()` is
    * skipped via a seen-set only to save digest work. Returns the
    * numHashes hex digests, or null when the doc has < n words. */
  def minhash(text: UTF8String, n: Int, numHashes: Int): ArrayData = {
    val bytes = text.getBytes
    // word start offsets (split on every 0x20, empties preserved)
    var nWords = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' '.toByte) nWords += 1; i += 1 }
    if (nWords < n) return null
    val starts = new Array[Int](nWords)
    starts(0) = 0
    var wIdx = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' '.toByte) { starts(wIdx) = i + 1; wIdx += 1 }
      i += 1
    }
    val md      = new FastMD5
    val dig     = new Array[Byte](16)
    val seeds   = (0 until numHashes).map(s => s"$s|".getBytes("US-ASCII")).toArray
    val mins    = Array.fill(numHashes)(null: Array[Byte])
    val seen    = new java.util.HashSet[String]()
    var s0 = 0
    while (s0 <= nWords - n) {
      val off = starts(s0)
      val end = if (s0 + n < nWords) starts(s0 + n) - 1 else bytes.length
      val key = new String(bytes, off, end - off, java.nio.charset.StandardCharsets.UTF_8)
      if (seen.add(key)) {
        var s = 0
        while (s < numHashes) {
          md.digest(seeds(s), bytes, off, end - off, dig)
          val m = mins(s)
          if (m == null || unsignedLess(dig, m)) mins(s) = dig.clone()
          s += 1
        }
      }
      s0 += 1
    }
    val out = new Array[AnyRef](numHashes)
    var s = 0
    while (s < numHashes) {
      out(s) = UTF8String.fromString(mins(s).map("%02x".format(_)).mkString)
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Exact shingle-set Jaccard counts for one candidate pair in a single
    * pass: build both documents' distinct word n-gram shingle sets (same
    * span semantics as [[minhash]] — split on every 0x20 with empties
    * preserved, shingle = original byte span of n consecutive words) and
    * intersect them. Returns `[n_common, n_a, n_b]`. Replaces the
    * two-sided candidate⋈shingle verification join: candidates are tiny by
    * the near-dup premise, so per-pair recompute beats re-shingling and
    * shuffling the candidate documents through three more stages. */
  def jaccardCounts(a: UTF8String, b: UTF8String, n: Int): ArrayData = {
    val sa = shingleSet(a.getBytes, n)
    val sb = shingleSet(b.getBytes, n)
    var common = 0L
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) common += 1
    new GenericArrayData(Array(common, sa.size.toLong, sb.size.toLong))
  }

  private def shingleSet(bytes: Array[Byte], n: Int): java.util.HashSet[String] = {
    val set = new java.util.HashSet[String]()
    var nWords = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' '.toByte) nWords += 1; i += 1 }
    if (nWords < n) return set
    val starts = new Array[Int](nWords)
    starts(0) = 0
    var w = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' '.toByte) { starts(w) = i + 1; w += 1 }
      i += 1
    }
    var s0 = 0
    while (s0 <= nWords - n) {
      val off = starts(s0)
      val end = if (s0 + n < nWords) starts(s0 + n) - 1 else bytes.length
      set.add(new String(bytes, off, end - off, java.nio.charset.StandardCharsets.UTF_8))
      s0 += 1
    }
    set
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** SimHash signature over single-space token split (mirrors
    * `string_split(text, ' ')` including empty tokens): per-token 60-bit
    * md5-prefix hash, per-bit majority vote (ties set the bit). Returns
    * `[n_tokens, simhash]`. */
  def simhash(text: UTF8String, bits: Int): ArrayData = {
    val bytes = text.getBytes
    val md    = new FastMD5
    val dig   = new Array[Byte](16)
    val ones  = new Array[Long](bits)
    var nTok  = 0L
    var start = 0
    var i     = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' '.toByte) {
        val h = hash60(md, dig, bytes, start, i - start)
        var b = 0
        while (b < bits) { ones(b) += (h >>> b) & 1L; b += 1 }
        nTok += 1
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var b   = 0
    while (b < bits) {
      if (ones(b) * 2 >= nTok) sig |= 1L << b
      b += 1
    }
    new GenericArrayData(Array(nTok, sig))
  }

  /** Gopher-style repetition counts in one pass over the single-space
    * token split (mirrors `string_split(text, ' ')` including empty
    * tokens): for word n-grams of each length in 2..3, the total count,
    * duplicated count (total − distinct), and the most frequent n-gram's
    * occurrence count. Returns `[n_2gram, dup_2gram, top_2gram, n_3gram,
    * dup_3gram, top_3gram]`. Exact string-equality semantics (a hash map
    * over the gram strings, not hashes), identical to the relational
    * explode → group → max oracle. */
  def repetition(text: UTF8String): ArrayData = {
    val s = text.toString
    // manual split preserving leading/interior/trailing empties — the
    // shared split(text, ' ') contract of Spark and DuckDB
    val toks = {
      val out = new scala.collection.mutable.ArrayBuffer[String](64)
      var start = 0
      var i = 0
      while (i <= s.length) {
        if (i == s.length || s.charAt(i) == ' ') { out += s.substring(start, i); start = i + 1 }
        i += 1
      }
      out
    }
    val res = new Array[Long](6)
    var n = 2
    while (n <= 3) {
      val total = math.max(toks.length - n + 1, 0)
      if (total > 0) {
        val m = new java.util.HashMap[String, Integer](total * 2)
        var top = 0
        val sb = new java.lang.StringBuilder(64)
        var i = 0
        while (i < total) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          val g = sb.toString
          val c = m.merge(g, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
          if (c > top) top = c
          i += 1
        }
        val base = (n - 2) * 3
        res(base) = total.toLong
        res(base + 1) = total.toLong - m.size
        res(base + 2) = top.toLong
      }
      n += 1
    }
    new GenericArrayData(res)
  }

  private final val JsPattern = "javascript".getBytes("US-ASCII")

  /** ASCII case-insensitive substring scan for "javascript" in [start,end). */
  private def containsJavascript(b: Array[Byte], start: Int, end: Int): Boolean = {
    val n = JsPattern.length
    var i = start
    while (i <= end - n) {
      var j = 0
      var ok = true
      while (ok && j < n) {
        val c = b(i + j)
        val lc = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
        if (lc != JsPattern(j)) ok = false
        j += 1
      }
      if (ok) return true
      i += 1
    }
    false
  }

  /** One line of the C4 line filter: ends in `.`/`!`/`?`/`"`, has at
    * least `minWords` single-space words, and no "javascript". */
  private def c4LinePasses(b: Array[Byte], start: Int, end: Int, minWords: Int): Boolean = {
    if (end <= start) return false
    val last = b(end - 1)
    if (last != '.' && last != '!' && last != '?' && last != '"') return false
    var words = 1
    var i = start
    while (i < end) { if (b(i) == ' ') words += 1; i += 1 }
    if (words < minWords) return false
    !containsJavascript(b, start, end)
  }

  /** The C4 line filter's kept lines — see [[C4KeptLines]]. */
  def c4KeptLines(text: UTF8String, delim: Byte, minWords: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val b   = text.getBytes
    val out = new java.util.ArrayList[Any]()
    var start = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == delim) {
        if (c4LinePasses(b, start, i, minWords))
          out.add(UTF8String.fromBytes(b, start, i - start))
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Word → per-language hit weights for [[stopwordBest]], indexed by
    * [[StopwordHits.langs]]. Every `(lang, word)` entry adds 1, so a
    * duplicated row counts once per copy (the stopword-table join's row
    * semantics). */
  private[functions] def stopwordWeights(
      lexicon: Seq[(String, Seq[String])]): java.util.HashMap[UTF8String, Array[Long]] = {
    val langs = StopwordHits.langs(lexicon)
    val m = new java.util.HashMap[UTF8String, Array[Long]]()
    for ((lang, words) <- lexicon; w <- words) {
      val k = UTF8String.fromString(w)
      var a = m.get(k)
      if (a == null) { a = new Array[Long](langs.size); m.put(k, a) }
      a(langs.indexOf(lang)) += 1L
    }
    m
  }

  /** Stopword-hit argmax — see [[StopwordHits]]. */
  def stopwordBest(
      text: UTF8String,
      weights: java.util.HashMap[UTF8String, Array[Long]],
      nLangs: Int): ArrayData = {
    val b      = text.getBytes
    val scores = new Array[Long](nLangs)
    var start  = 0
    var i      = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == ' ') {
        val w = weights.get(UTF8String.fromBytes(b, start, i - start))
        if (w != null) {
          var l = 0
          while (l < nLangs) { scores(l) += w(l); l += 1 }
        }
        start = i + 1
      }
      i += 1
    }
    // score desc, lang asc: scan ascending, replace on STRICT improvement
    var best = -1L
    var bestScore = 0L
    var l = 0
    while (l < nLangs) {
      if (scores(l) > bestScore) { best = l; bestScore = scores(l) }
      l += 1
    }
    new GenericArrayData(Array(best, bestScore))
  }

  /** One java.util.zip.Deflater per (thread, level), reset between rows —
    * Deflater construction allocates native state, far too heavy per row. */
  private val deflaters =
    new ThreadLocal[java.util.HashMap[Int, java.util.zip.Deflater]] {
      override def initialValue() = new java.util.HashMap[Int, java.util.zip.Deflater]()
    }

  /** Raw-DEFLATE size of the document — see [[DeflateStats]]. */
  def deflateStats(text: UTF8String, level: Int): ArrayData = {
    val b = text.getBytes
    val map = deflaters.get()
    var d = map.get(level)
    if (d == null) {
      d = new java.util.zip.Deflater(level, true) // nowrap: raw RFC 1951
      map.put(level, d)
    }
    d.reset()
    d.setInput(b)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    new GenericArrayData(Array(b.length.toLong, total))
  }
}

/** `wordGrams(text, n, distinct)` as a codegen scalar expression →
  * array<string> of word n-grams (space-joined), empty for docs shorter
  * than n words or null input — the codegen replacement for the
  * interpreted `transform(sequence(...), i -> array_join(slice(...)))`
  * HOF chain that every shingle consumer used to pay (~2× on the gram
  * build at sf0.1). Because split and join use the SAME single-space
  * separator, each gram is a BYTE SLICE of the original UTF-8 string —
  * the kernel allocates one UTF8String per gram and never builds
  * characters. Split semantics match `split(text, ' ')` exactly (empty
  * tokens kept, so "a  b" has tokens "a","","b"). `distinct = true`
  * keeps first occurrence order, matching `array_distinct`. */
case class WordGrams(child: Expression, n: Int, distinct: Boolean) extends Expression {
  require(n >= 1)
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    TextKernelFns.wordGrams(child.eval(input).asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c      = child.genCode(ctx)
    val kernel = TextKernelFns.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $kernel.wordGrams(${c.isNull} ? null : ${c.value}, $n, $distinct);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

object WordGrams {
  def apply(text: Column, n: Int, distinct: Boolean): Column =
    GraftSqlBridge.column(new WordGrams(
      GraftSqlBridge.expression(text.cast("string")), n, distinct))
}

/** `minhash(text, n, numHashes)` as a codegen scalar expression →
  * array<string> of hex digests, or null for docs with < n words. */
case class MinHashSigExpr(child: Expression, n: Int, numHashes: Int) extends Expression {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) null else TextKernelFns.minhash(t.asInstanceOf[UTF8String], n, numHashes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c      = child.genCode(ctx)
    val kernel = TextKernelFns.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $kernel.minhash(${c.value}, $n, $numHashes);
        ${ev.isNull} = ${ev.value} == null;
      }""")
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

object MinHashSigExpr {
  def apply(text: Column, n: Int, numHashes: Int): Column =
    GraftSqlBridge.column(new MinHashSigExpr(
      GraftSqlBridge.expression(text.cast("string")), n, numHashes))
}

/** `winnow(text, k, w)` as a codegen scalar expression → array<long> of
  * packed fingerprints. */
case class WinnowFingerprint(child: Expression, k: Int, w: Int) extends Expression {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) null else TextKernelFns.winnow(t.asInstanceOf[UTF8String], k, w)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c      = child.genCode(ctx)
    val kernel = TextKernelFns.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $kernel.winnow(${c.value}, $k, $w);
      }""")
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

/** `simhash(text, bits)` as a codegen scalar expression →
  * array<long> [n_tokens, signature]. */
case class SimHashSig(child: Expression, bits: Int) extends Expression {
  require(bits >= 1 && bits <= 60)
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) null else TextKernelFns.simhash(t.asInstanceOf[UTF8String], bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c      = child.genCode(ctx)
    val kernel = TextKernelFns.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $kernel.simhash(${c.value}, $bits);
      }""")
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

/** `jaccard_counts(text_a, text_b, n)` as a codegen scalar expression →
  * array<long> [n_common, n_a, n_b] over distinct word n-gram shingles. */
case class JaccardShingles(left: Expression, right: Expression, n: Int) extends Expression {
  override def children: Seq[Expression] = Seq(left, right)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) null
    else TextKernelFns.jaccardCounts(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ca     = left.genCode(ctx)
    val cb     = right.genCode(ctx)
    val kernel = TextKernelFns.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code = code"""
      ${ca.code}
      ${cb.code}
      boolean ${ev.isNull} = ${ca.isNull} || ${cb.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $kernel.jaccardCounts(${ca.value}, ${cb.value}, $n);
      }""")
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(left = c(0), right = c(1))
}

object JaccardShingles {
  def apply(a: Column, b: Column, n: Int): Column =
    GraftSqlBridge.column(new JaccardShingles(
      GraftSqlBridge.expression(a.cast("string")),
      GraftSqlBridge.expression(b.cast("string")), n))
}

object WinnowFingerprint {
  def apply(text: Column, k: Int, w: Int): Column =
    GraftSqlBridge.column(new WinnowFingerprint(
      GraftSqlBridge.expression(text.cast("string")), k, w))
}

object SimHashSig {
  def apply(text: Column, bits: Int): Column =
    GraftSqlBridge.column(new SimHashSig(
      GraftSqlBridge.expression(text.cast("string")), bits))
}

/** `repetition(text)` as a codegen scalar expression → array<long>
  * [n_2gram, dup_2gram, top_2gram, n_3gram, dup_3gram, top_3gram]. */
case class RepetitionCounts(child: Expression) extends Expression {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) null else TextKernelFns.repetition(t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c      = child.genCode(ctx)
    val kernel = TextKernelFns.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $kernel.repetition(${c.value});
      }""")
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

object RepetitionCounts {
  def apply(text: Column): Column =
    GraftSqlBridge.column(new RepetitionCounts(
      GraftSqlBridge.expression(text.cast("string"))))
}

/** `stopwordBest(text, lexicon)` as a codegen scalar expression →
  * array<long> [best_lang, best_score]: the text splits on every single
  * 0x20 byte (`split(text, ' ')` semantics, empty and trailing tokens
  * kept), each token looks up by exact byte equality in the `(lang,
  * words)` lexicon, and the argmax runs score desc, lang asc over the
  * lexicon's ascending distinct languages ([[StopwordHits.langs]]);
  * best_lang is -1 (score 0) when no token hits, and the result is null
  * for null text. A one-language lexicon makes best_score a plain hit
  * count. The per-row form of the explode ⋈ stopword-table ⋈ window
  * relational reference, identical by construction for any word. */
case class StopwordHits(child: Expression, lexicon: Seq[(String, Seq[String])])
    extends Expression {
  @transient private lazy val weights = TextKernelFns.stopwordWeights(lexicon)
  @transient private lazy val nLangs  = StopwordHits.langs(lexicon).size
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) null
    else TextKernelFns.stopwordBest(t.asInstanceOf[UTF8String], weights, nLangs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c      = child.genCode(ctx)
    val wRef   = ctx.addReferenceObj("stopwordWeights", weights, "java.util.HashMap")
    val kernel = TextKernelFns.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $kernel.stopwordBest(${c.value}, $wRef, $nLangs);
      }""")
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

object StopwordHits {
  /** The lexicon's languages in kernel index order. */
  def langs(lexicon: Seq[(String, Seq[String])]): Seq[String] = lexicon.map(_._1).distinct.sorted

  def apply(text: Column, lexicon: Seq[(String, Seq[String])]): Column =
    GraftSqlBridge.column(new StopwordHits(
      GraftSqlBridge.expression(text.cast("string")), lexicon))
}

/** `c4KeptLines(text, delim, minWords)` as a codegen scalar expression →
  * array<string> of the lines the C4 line filter keeps (Raffel et al.
  * 2020, §2.2): a line survives iff it ends in a terminal punctuation
  * mark (`.`, `!`, `?`, or a closing `"`), carries at least `minWords`
  * single-space-separated words, and does not contain `javascript`
  * (ASCII case-insensitive). One pass over the UTF-8 bytes; kept lines
  * are byte slices of the input (no character building). Line split
  * semantics match `split(text, delim)` / DuckDB `string_split`: empty
  * segments (including a trailing one) count as lines and never pass.
  * The delimiter must be a single ASCII byte, which never occurs inside
  * a UTF-8 multibyte sequence, so the byte scan is safe; the
  * terminal-punct check reads the line's LAST BYTE, which equals the
  * regex `[.!?"]$` because a multibyte final character can never end in
  * an ASCII punctuation byte. */
case class C4KeptLines(child: Expression, delim: String, minWords: Int) extends Expression {
  require(delim.length == 1 && delim.charAt(0) < 0x80, "delim must be one ASCII char")
  require(minWords >= 1)
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    TextKernelFns.c4KeptLines(
      child.eval(input).asInstanceOf[UTF8String], delim.charAt(0).toByte, minWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c      = child.genCode(ctx)
    val kernel = TextKernelFns.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $kernel.c4KeptLines(${c.isNull} ? null : ${c.value},
            (byte) ${delim.charAt(0).toInt}, $minWords);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

object C4KeptLines {
  def apply(text: Column, delim: String, minWords: Int): Column =
    GraftSqlBridge.column(new C4KeptLines(
      GraftSqlBridge.expression(text.cast("string")), delim, minWords))
}

/** `deflateStats(text, level)` as a codegen scalar expression →
  * array<long> [n_bytes, n_deflated]: the document's UTF-8 byte count
  * and its raw-DEFLATE (RFC 1951, no zlib/gzip header) size at the
  * given level. The compressed/raw ratio is a classic
  * repetitiveness/boilerplate quality signal (highly repetitive pages
  * compress far below normal prose). Spec-gated only: the oracle engine
  * has no deflate surface, and the byte count depends on the DEFLATE
  * implementation — the RATIO is the signal, not the exact size, so
  * thresholds should be calibrated per deployment. One Deflater per
  * thread (reset between rows), no allocation in the row loop beyond
  * the output. */
case class DeflateStats(child: Expression, level: Int) extends Expression {
  require(level >= 1 && level <= 9, "deflate level must be in [1,9]")
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) null else TextKernelFns.deflateStats(t.asInstanceOf[UTF8String], level)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c      = child.genCode(ctx)
    val kernel = TextKernelFns.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $kernel.deflateStats(${c.value}, $level);
      }""")
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

object DeflateStats {
  def apply(text: Column, level: Int = 6): Column =
    GraftSqlBridge.column(new DeflateStats(
      GraftSqlBridge.expression(text.cast("string")), level))
}

/** `wordGramCounts(text, n)` as a codegen scalar expression →
  * array<struct<gram: string, occ: long>> of word n-gram OCCURRENCE
  * counts in first-occurrence order — the per-row replacement for
  * `groupBy(id, gram).count` over the exploded gram stream. Each
  * document's gram multiset lives in one source string, so the whole
  * per-(doc, gram) aggregate is a pure projection: exploding this array
  * yields exactly the rows the relational aggregate produced, with NO
  * exchange (the gram stream was the largest intermediate in the
  * dup-span / tf-idf / rarity plans — guide §2.4: remove shuffles
  * outright). Same byte-slice tokenization as [[WordGrams]]
  * (split(text, ' ') semantics, empty tokens kept); empty array for
  * null input or docs shorter than n words. */
case class WordGramCounts(child: Expression, n: Int) extends Expression {
  require(n >= 1)
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "gram", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("occ", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    TextKernelFns.wordGramCounts(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c      = child.genCode(ctx)
    val kernel = TextKernelFns.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $kernel.wordGramCounts(${c.isNull} ? null : ${c.value}, $n);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

object WordGramCounts {
  def apply(text: Column, n: Int): Column =
    GraftSqlBridge.column(new WordGramCounts(
      GraftSqlBridge.expression(text.cast("string")), n))
}
