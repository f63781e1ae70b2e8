package graft.functions

import java.security.MessageDigest

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The input-type check of a kernel over a token or shingle array:
  * analysis fails on any child type but array<string>.
  */
sealed trait StringArrayInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(e, _) if e == StringType => TypeCheckSuccess
    case other => TypeCheckFailure(s"input must be array<string>, got $other")
  }
}

/** The input-type check of a kernel over a document string: analysis
  * fails on any child type but string.
  */
sealed trait StringInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckSuccess
    else TypeCheckFailure(s"input must be string, got ${child.dataType}")
}

/** Native portable-minhash signature kernel.
  *
  * `minhash_md5(shingles, k)` computes the k-wide md5-sliced minhash
  * signature of the portable Dedup.minhashSignatures in ONE pass over the
  * shingle array: hash h of a shingle is the 4-hex-char slice h%8 of
  * md5("(h/8):shingle") and the signature entry is the minimum over
  * shingles (fixed-width lowercase hex, so string order == numeric
  * order — the mins are tracked as 16-bit ints and formatted once).
  *
  * Why a native expression (ladder rung (b), like vec_cosine): the
  * composed formulation evaluates md5 + substring inside higher-order
  * lambdas, which Spark INTERPRETS per element — measured ~4x the cost
  * of the same digest count here, where the k/8 digests per shingle run
  * as tight JVM code with no per-slice string allocation. Byte-for-byte
  * identical output: MessageDigest("MD5") over the UTF-8 bytes of
  * "(j):shingle" is exactly what Spark's md5(concat(...)) hashes, so the
  * DuckDB oracle replay is untouched.
  */
case class MinhashMd5Sigs(child: Expression, k: Int)
    extends UnaryExpression with StringArrayInput {

  require(k > 0, s"k must be positive, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // null on an empty (or all-null-element) shingle array: the composed
  // md5/substring formulation — and the DuckDB oracle replay — yields NULL
  // there (min over zero elements), so the byte-for-byte contract must too.
  // Unreachable from shinglesOfTokens (it always emits one element), but
  // latent divergence if shingle generation ever changes.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    MinhashMd5.compute(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinhashMd5.compute($c, $k);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashMd5Sigs =
    copy(child = newChild)

  override def prettyName: String = "minhash_md5"
}

/** Fast-path twin of MinhashMd5Sigs: `minhash_xx(shingles, k)` — one
  * XXH64 of each shingle's UTF-8 bytes, then k splitmix64 remixes of the
  * 8-byte base (the Carter-Wegman-style rehash the composed formulation
  * approximated with k interpreted xxhash64 lambda calls; splitmix's
  * modular arithmetic is unavailable to SQL expressions under ANSI
  * overflow checking but trivial in JVM code). Returns array<bigint>.
  * No cross-engine contract — this is the production hash family; the
  * exact Jaccard verify downstream keeps outputs exact regardless.
  */
case class MinhashXxSigs(child: Expression, k: Int)
    extends UnaryExpression with StringArrayInput {

  require(k > 0, s"k must be positive, got $k")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  // same empty-array null contract as MinhashMd5Sigs
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    MinhashMd5.computeXx(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinhashMd5.computeXx($c, $k);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashXxSigs =
    copy(child = newChild)

  override def prettyName: String = "minhash_xx"
}

/** `simhash_md5(tokens)` / `simhash_xx(tokens)` — the 64-bit SimHash of a
  * document's token multiset as ONE map-side expression: per token, hash
  * once (md5 hex-nibble bits for the portable family, XXH64 bits for the
  * fast family), accumulate 64 ones-counts locally, and set signature bit
  * b iff ones(b)*2 > n (the +1/-1 sign test). Bit layout matches the
  * composed formulations exactly: portable bit b reads hex nibble b/4,
  * bit b%4 LSB-first (== the portable Dedup.simhash chunks), fast bit
  * b reads bit b of xxhash64(token) — so the DuckDB oracle replay of the
  * portable path is untouched.
  *
  * The plan-shape win is bigger than the CPU win: the composed form
  * explodes tokens and runs a 65-column partial+final aggregate — a
  * SHUFFLE per consumer (and the near-dup self-join evaluates its
  * signature subtree once per side). This expression makes SimHash
  * signatures map-only, like the minhash kernels: no Generate, no
  * aggregate, no exchange, embarrassingly parallel at any corpus size.
  */
case class SimhashSigs(child: Expression, portable: Boolean)
    extends UnaryExpression with StringArrayInput {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(a: Any): Any =
    MinhashMd5.computeSimhash(a.asInstanceOf[ArrayData], portable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinhashMd5.computeSimhash($c, $portable);")

  override protected def withNewChildInternal(newChild: Expression): SimhashSigs =
    copy(child = newChild)

  override def prettyName: String = if (portable) "simhash_md5" else "simhash_xx"
}

/** `minwindow_md5(s, w)` — the winnowing-style fingerprint: the minimum
  * md5 hex digest over all w-char sliding windows of `s` (the whole
  * digest string, matching md5(substring(s, i, w)) per window); the full
  * digest of `s` itself when shorter than w. Same native-kernel rationale
  * as minhash_md5: one JVM pass beats length(s) interpreted lambda md5
  * calls ~4x, and MessageDigest over the window's UTF-8 bytes is
  * byte-identical to the composed formulation the DuckDB oracle replays.
  */
case class MinWindowMd5(child: Expression, window: Int)
    extends UnaryExpression with StringInput {

  require(window > 0, s"window must be positive, got $window")

  override def dataType: DataType = StringType

  override def nullSafeEval(a: Any): Any =
    MinhashMd5.computeMinWindow(a.asInstanceOf[UTF8String], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinhashMd5.computeMinWindow($c, $window);")

  override protected def withNewChildInternal(newChild: Expression): MinWindowMd5 =
    copy(child = newChild)

  override def prettyName: String = "minwindow_md5"
}

/** `windows_with_pos(toks, n)` — every DISTINCT length-n token window of
  * the array, with the 0-based token offset of its FIRST occurrence:
  * array<struct<pos:int, w:string>>; empty when the array has fewer than
  * n tokens. Window strings are the space-joined token runs — byte-equal
  * to `concat_ws(" ", toks[i+1..i+n])` per start offset i, so the DuckDB
  * oracle replay of substring dedup is untouched.
  *
  * Two wins over the composed transform-over-sequence formulation it
  * replaces (the same interpreted-HOF anti-pattern measured on
  * text_top_bigrams, 16.4s -> 1.5s after its rewrite):
  *   - CPU: Catalyst interprets HOF lambdas per element, and each window
  *     ran n per-index element_at calls. Here all tokens are joined into
  *     ONE byte buffer and each window is an O(1) offset-range view —
  *     no per-window re-walk, no interpreter.
  *   - PLAN SHAPE: the distinct-collapse (first occurrence per window
  *     string) happens in a local hash map per document, so the
  *     posexplode + groupBy(id, w)/min(pos) SHUFFLE the old formulation
  *     needed is gone — window generation is now map-only, which at
  *     100 TB removes the single largest shuffle of the passage-dedup
  *     pipeline (windows are ~n x the corpus bytes).
  */
case class WindowsWithPos(child: Expression, n: Int)
    extends UnaryExpression with StringArrayInput {

  require(n > 0, s"n must be positive, got $n")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("w", StringType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(a: Any): Any =
    MinhashMd5.computeWindowsWithPos(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinhashMd5.computeWindowsWithPos($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WindowsWithPos =
    copy(child = newChild)

  override def prettyName: String = "windows_with_pos"
}

/** `winnow_fps(s, gram, win)` — the full winnowing selection (Schleimer
  * et al. 2003) as ONE map-side pass: md5 each `gram`-char window of `s`,
  * slide a `win`-wide frame over the gram-hash stream, keep each frame's
  * minimum hash with the RIGHTMOST position on ties, and emit the
  * DISTINCT selections as array<struct<pos:long, fp:string>> (pos is the
  * 1-based gram offset). Empty when the doc has fewer than `win` grams.
  *
  * Byte-for-byte parity with the composed formulation it replaces
  * (posexplode of transform(sequence, md5(substring)) + windowed
  * min(struct(h, -pos)) + distinct): digests are MessageDigest("MD5")
  * over the UTF-8 bytes of the char substring, compared as raw bytes
  * (fixed-width lowercase hex order == byte order), and the rightmost
  * tie comes from `<=` while scanning left-to-right. Selected indexes
  * are non-decreasing as the frame slides (the dropped gram is the only
  * one that can unseat a minimum), so the distinct collapse is a
  * last-selection check — no hash set.
  *
  * Why a native expression (ladder rung (b)): the composed form explodes
  * ~|text| gram rows per doc and SHUFFLES them into per-doc sorted
  * windows just to take a 4-row min — at 100 TB that shuffle is ~the
  * corpus size. Here selection happens inside the scan projection and
  * only the ~2/(win+1)-density fingerprint relation ever leaves the map
  * side. ASCII fast path digests straight out of the doc's byte array
  * (no per-gram substring allocation).
  */
case class WinnowFps(child: Expression, gram: Int, win: Int)
    extends UnaryExpression with StringInput {

  require(gram > 0 && win > 0, s"need positive gram/win, got ($gram, $win)")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("fp", StringType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(a: Any): Any =
    MinhashMd5.computeWinnow(a.asInstanceOf[UTF8String], gram, win)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinhashMd5.computeWinnow($c, $gram, $win);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)

  override def prettyName: String = "winnow_fps"
}

/** `token_shingles(toks, n)` — the DISTINCT length-n token windows of the
  * array in first-occurrence order, with the whole-doc fallback for short
  * documents: a doc with fewer than n tokens yields the single shingle
  * `concat_ws(" ", toks)` (so every non-null doc contributes at least one
  * set element — Jaccard over an empty set is undefined). Byte-equal to
  * the composed formulation it replaces:
  *
  *   array_distinct(when(size(toks) < n, array(concat_ws(" ", toks)))
  *     .otherwise(transform(sequence(0, size(toks) - n),
  *       i => concat_ws(" ", element_at(toks, i+1) .. element_at(toks, i+n)))))
  *
  * which is the same interpreted-HOF anti-pattern windows_with_pos killed
  * (n per-index element_at calls per window, run by the lambda
  * interpreter), except this one sat under EVERY shingle consumer:
  * minhash signatures (evaluated once per LSH join side), the Jaccard
  * verify joins (once per side again), simhash chunks, and the
  * decontamination n-gram sides — the single hottest expression subtree
  * in the dedup suite. Same single-buffer kernel as windows_with_pos:
  * tokens joined once, each window an O(1) byte-range view, distinct
  * collapsed in a local hash set. Map-only; shingle strings are
  * byte-identical, so every DuckDB oracle replay is untouched.
  */
case class TokenShingles(child: Expression, n: Int)
    extends UnaryExpression with StringArrayInput {

  require(n > 0, s"n must be positive, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    MinhashMd5.computeShingles(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinhashMd5.computeShingles($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): TokenShingles =
    copy(child = newChild)

  override def prettyName: String = "token_shingles"
}

/** `icu_lower(s)` / `icu_upper(s)` — Spark's `lower`/`upper` on a plain
  * (UTF8_BINARY) string, byte for byte: [[IcuCaseMap.map]] makes exactly
  * the calls Spark 4.1's ICU case mapping makes (ASCII fast path, else
  * ICU's full-string mapping of the valid-UTF-8 rendering), so final
  * sigma, `İ`, `ß`, title-case digraphs and invalid UTF-8 come out as
  * they do from `lower`/`upper`.
  *
  * Why a kernel: Spark routes `lower`/`upper` through
  * `CollationAwareUTF8String`, whose static initializer builds a
  * title-case table for all 1,114,112 code points (about 3 CPU-s in a
  * C1-only JVM on a 4-core VM, paid by the first case mapping in every
  * JVM) that neither function reads. This kernel never loads that class.
  */
case class IcuCase(child: Expression, upper: Boolean)
    extends UnaryExpression with StringInput {

  override def dataType: DataType = StringType

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any =
    IcuCaseMap.map(a.asInstanceOf[UTF8String], upper)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.IcuCaseMap.map($c, $upper)")

  override protected def withNewChildInternal(newChild: Expression): IcuCase =
    copy(child = newChild)

  override def prettyName: String = if (upper) "icu_upper" else "icu_lower"
}

object IcuCaseMap {

  /** The body of `CollationAwareUTF8String.toLowerCase`/`toUpperCase`
    * (spark-unsafe 4.1), without that class's static initializer.
    */
  def map(s: UTF8String, upper: Boolean): UTF8String =
    if (s.isFullAscii) {
      if (upper) s.toUpperCaseAscii else s.toLowerCaseAscii
    } else {
      val v = s.toValidString
      UTF8String.fromString(
        if (upper) UCharacter.toUpperCase(v) else UCharacter.toLowerCase(v))
    }
}

object MinhashMd5 {

  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** Invoked from generated code — keep the signature JVM-friendly.
    * Returns null when no shingle contributed (empty array or all-null
    * elements): the composed formulation's min over zero md5 slices is
    * NULL, and the kernel's contract is byte-for-byte parity with it.
    */
  def compute(shingles: ArrayData, k: Int): ArrayData = {
    val nBase = (k + 7) / 8
    var contributed = false
    val mins = Array.fill(k)(Int.MaxValue)
    // UTF-8 bytes of "(j):" == the prefix of the concatenated string
    // Spark's md5(concat(lit(j + ":"), s)) hashes — rendered once per
    // base index, for ANY j (not just single digits)
    val prefixes = Array.tabulate(nBase)(j => (j + ":").getBytes("UTF-8"))
    val md = digests.get()
    var i = 0
    while (i < shingles.numElements()) {
      val s = shingles.getUTF8String(i)
      if (s != null) {
        contributed = true
        val sBytes = s.getBytes
        var j = 0
        while (j < nBase) {
          md.reset()
          md.update(prefixes(j))
          md.update(sBytes)
          val dig = md.digest()
          // slice h%8 of the 32-char hex = bytes 2*(h%8), 2*(h%8)+1
          var slice = 0
          while (slice < 8) {
            val h = j * 8 + slice
            if (h < k) {
              val v = ((dig(slice * 2) & 0xff) << 8) | (dig(slice * 2 + 1) & 0xff)
              if (v < mins(h)) mins(h) = v
            }
            slice += 1
          }
          j += 1
        }
      }
      i += 1
    }
    if (!contributed) return null
    val out = new Array[AnyRef](k)
    var h = 0
    while (h < k) {
      val v = mins(h)
      out(h) = UTF8String.fromString(new String(Array(
        hexChars((v >> 12) & 0xf), hexChars((v >> 8) & 0xf),
        hexChars((v >> 4) & 0xf), hexChars(v & 0xf))))
      h += 1
    }
    new GenericArrayData(out)
  }

  /** minwindow_md5 kernel — see MinWindowMd5. Windows are CHARACTER
    * (code-point) windows, matching substring semantics; UTF8String
    * .substringSQL slices by code point and yields the window's UTF-8
    * bytes. The min tracks the 16 digest bytes directly (hex order ==
    * byte order for unsigned comparison) and formats once at the end.
    */
  def computeMinWindow(s: UTF8String, window: Int): UTF8String = {
    val md = digests.get()
    val nChars = s.numChars()
    def hex(dig: Array[Byte]): UTF8String = {
      val out = new Array[Char](32)
      var i = 0
      while (i < 16) {
        out(i * 2) = hexChars((dig(i) >> 4) & 0xf)
        out(i * 2 + 1) = hexChars(dig(i) & 0xf)
        i += 1
      }
      UTF8String.fromString(new String(out))
    }
    md.reset()
    if (nChars < window) {
      md.update(s.getBytes)
      return hex(md.digest())
    }
    var min: Array[Byte] = null
    var i = 1
    while (i <= nChars - window + 1) {
      md.reset()
      md.update(s.substringSQL(i, window).getBytes)
      val dig = md.digest()
      if (min == null || unsignedLess(dig, min)) min = dig
      i += 1
    }
    hex(min)
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val av = a(i) & 0xff; val bv = b(i) & 0xff
      if (av != bv) return av < bv
      i += 1
    }
    false
  }

  private def hexU8(dig: Array[Byte]): UTF8String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(i * 2) = hexChars((dig(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexChars(dig(i) & 0xf)
      i += 1
    }
    UTF8String.fromString(new String(out))
  }

  /** winnow_fps kernel — see WinnowFps. */
  def computeWinnow(s: UTF8String, gram: Int, win: Int): ArrayData = {
    val nChars = s.numChars()
    val ng = nChars - gram + 1
    if (nChars < gram || ng < win)
      return new GenericArrayData(Array.empty[Any])
    val md = digests.get()
    val digs = new Array[Array[Byte]](ng)
    if (s.numBytes() == nChars) {
      // ASCII fast path: char windows ARE byte windows — digest straight
      // out of one byte array, no per-gram substring
      val bytes = s.getBytes
      var i = 0
      while (i < ng) {
        md.reset(); md.update(bytes, i, gram); digs(i) = md.digest()
        i += 1
      }
    } else {
      // non-ASCII: substringSQL indexes CODE POINTS like Spark's
      // substring (a Java String.substring would count UTF-16 units and
      // diverge on astral chars)
      var i = 0
      while (i < ng) {
        md.reset()
        md.update(s.substringSQL(i + 1, gram).getBytes)
        digs(i) = md.digest()
        i += 1
      }
    }
    val sel = new java.util.ArrayList[AnyRef](ng / 2 + 1)
    var last = -1
    var p = 0
    while (p + win <= ng) {
      var best = p
      var j = p + 1
      while (j < p + win) {
        // h[j] <= h[best] moves the pick right: rightmost min on ties
        if (!unsignedLess(digs(best), digs(j))) best = j
        j += 1
      }
      if (best != last) {
        sel.add(new GenericInternalRow(
          Array[Any]((best + 1).toLong, hexU8(digs(best)))))
        last = best
      }
      p += 1
    }
    new GenericArrayData(sel.toArray)
  }

  /** simhash kernel — see SimhashSigs. Portable: bit b of a token's
    * contribution is bit b%4 (LSB-first) of the md5 hex nibble at char
    * b/4, exactly what conv(substr(md5hex, b/4+1, 1), 16, 10) >> (b%4)
    * extracts — computed here straight from the digest bytes: hex char
    * 2i is the HIGH nibble of digest byte i, char 2i+1 the LOW nibble.
    * Fast: bit b of XXH64(tokenBytes, seed 42), identical to Spark's
    * xxhash64(token).
    */
  def computeSimhash(tokens: ArrayData, portable: Boolean): Long = {
    val ones = new Array[Int](64)
    var n = 0
    val md = if (portable) digests.get() else null
    var i = 0
    while (i < tokens.numElements()) {
      val t = tokens.getUTF8String(i)
      if (t != null) {
        n += 1
        if (portable) {
          md.reset()
          md.update(t.getBytes)
          val dig = md.digest()
          var b = 0
          while (b < 64) {
            val hexChar = b / 4 // 0-based index into the 32-char hex string
            val byte0 = dig(hexChar / 2) & 0xff
            val nib = if (hexChar % 2 == 0) byte0 >> 4 else byte0 & 0xf
            ones(b) += (nib >> (b % 4)) & 1
            b += 1
          }
        } else {
          val h = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
          var b = 0
          while (b < 64) {
            ones(b) += ((h >>> b) & 1L).toInt
            b += 1
          }
        }
      }
      i += 1
    }
    var packed = 0L
    var b = 0
    while (b < 64) {
      if (ones(b) * 2 > n) packed |= 1L << b
      b += 1
    }
    packed
  }

  /** windows_with_pos kernel — see WindowsWithPos. Fast path (no null
    * tokens — the tokenizer never emits them): join all tokens into one
    * byte buffer with single-space separators and record each token's
    * byte range; window starting at token p is then the O(1) buffer view
    * [start(p), end(p+n-1)) — exactly the bytes concat_ws(" ", ...) of
    * that token run produces. First occurrences are kept via putIfAbsent
    * on the view (UTF8String hashes/compares its bytes). The null-token
    * slow path mirrors concat_ws's skip-nulls semantics per window.
    */
  def computeWindowsWithPos(toks: ArrayData, n: Int): ArrayData = {
    val L = toks.numElements()
    if (L < n) return new GenericArrayData(Array.empty[Any])
    var hasNull = false
    var i = 0
    while (i < L && !hasNull) {
      if (toks.isNullAt(i)) hasNull = true
      i += 1
    }
    val out = new java.util.ArrayList[AnyRef](L - n + 1)
    val seen = new java.util.HashMap[UTF8String, Integer](
      Math.max(8, (L - n + 1) * 2))
    if (!hasNull) {
      val tokBytes = new Array[Array[Byte]](L)
      val starts = new Array[Int](L)
      val ends = new Array[Int](L)
      var off = 0
      i = 0
      while (i < L) {
        val b = toks.getUTF8String(i).getBytes
        tokBytes(i) = b
        if (i > 0) off += 1 // separator slot
        starts(i) = off
        off += b.length
        ends(i) = off
        i += 1
      }
      val buf = new Array[Byte](off)
      i = 0
      while (i < L) {
        if (i > 0) buf(starts(i) - 1) = ' '.toByte
        System.arraycopy(tokBytes(i), 0, buf, starts(i), tokBytes(i).length)
        i += 1
      }
      var p = 0
      while (p <= L - n) {
        val w = UTF8String.fromBytes(buf, starts(p), ends(p + n - 1) - starts(p))
        if (seen.putIfAbsent(w, p) == null)
          out.add(new GenericInternalRow(Array[Any](p, w)))
        p += 1
      }
    } else {
      var p = 0
      while (p <= L - n) {
        val sb = new java.lang.StringBuilder
        var first = true
        var j = p
        while (j < p + n) {
          if (!toks.isNullAt(j)) {
            if (!first) sb.append(' ')
            sb.append(toks.getUTF8String(j).toString)
            first = false
          }
          j += 1
        }
        val w = UTF8String.fromString(sb.toString)
        if (seen.putIfAbsent(w, p) == null)
          out.add(new GenericInternalRow(Array[Any](p, w)))
        p += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** token_shingles kernel — see TokenShingles. Fast path (no null
    * tokens): the same joined-buffer trick as computeWindowsWithPos —
    * window at token p is the O(1) buffer view [start(p), end(p+n-1)),
    * byte-equal to concat_ws(" ", ...) of that token run — with distinct
    * collapsed via a local hash set in first-occurrence order (matching
    * array_distinct). Short docs (< n tokens, incl. empty) fall back to
    * the whole-doc join as the single shingle. The null-token slow path
    * mirrors concat_ws's skip-nulls semantics.
    */
  def computeShingles(toks: ArrayData, n: Int): ArrayData = {
    val L = toks.numElements()
    var hasNull = false
    var i = 0
    while (i < L && !hasNull) {
      if (toks.isNullAt(i)) hasNull = true
      i += 1
    }
    def joinRange(from: Int, until: Int): UTF8String = {
      val sb = new java.lang.StringBuilder
      var first = true
      var j = from
      while (j < until) {
        if (!toks.isNullAt(j)) {
          if (!first) sb.append(' ')
          sb.append(toks.getUTF8String(j).toString)
          first = false
        }
        j += 1
      }
      UTF8String.fromString(sb.toString)
    }
    if (L < n)
      return new GenericArrayData(Array[Any](joinRange(0, L)))
    val out = new java.util.ArrayList[AnyRef](L - n + 1)
    val seen = new java.util.HashSet[UTF8String](
      Math.max(8, (L - n + 1) * 2))
    if (!hasNull) {
      val tokBytes = new Array[Array[Byte]](L)
      val starts = new Array[Int](L)
      val ends = new Array[Int](L)
      var off = 0
      i = 0
      while (i < L) {
        val b = toks.getUTF8String(i).getBytes
        tokBytes(i) = b
        if (i > 0) off += 1 // separator slot
        starts(i) = off
        off += b.length
        ends(i) = off
        i += 1
      }
      val buf = new Array[Byte](off)
      i = 0
      while (i < L) {
        if (i > 0) buf(starts(i) - 1) = ' '.toByte
        System.arraycopy(tokBytes(i), 0, buf, starts(i), tokBytes(i).length)
        i += 1
      }
      var p = 0
      while (p <= L - n) {
        val w = UTF8String.fromBytes(buf, starts(p), ends(p + n - 1) - starts(p))
        if (seen.add(w)) out.add(w)
        p += 1
      }
    } else {
      var p = 0
      while (p <= L - n) {
        val w = joinRange(p, p + n)
        if (seen.add(w)) out.add(w)
        p += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** minhash_xx kernel — see MinhashXxSigs. Null on an empty/all-null
    * array, consistent with the md5 kernel's contract. */
  def computeXx(shingles: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    var contributed = false
    var i = 0
    while (i < shingles.numElements()) {
      val s = shingles.getUTF8String(i)
      if (s != null) {
        contributed = true
        val base = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var h = 0
        while (h < k) {
          var z = base + h.toLong * 0x9E3779B97F4A7C15L
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          z ^= z >>> 31
          if (z < mins(h)) mins(h) = z
          h += 1
        }
      }
      i += 1
    }
    if (!contributed) return null
    new GenericArrayData(mins)
  }
}
