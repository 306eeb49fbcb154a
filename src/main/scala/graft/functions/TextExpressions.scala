package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Text-hashing kernels for the dedup family. One JVM loop per row via
  * the StaticInvoke codegen pattern — the equivalent nested higher-order
  * expression (transform-over-transform, k × shingles lambda evals, the
  * subtree duplicated into every band slice) exceeds codegen limits and
  * falls back to interpreted eval, ~20× slower at bench scale.
  */
object TextOps {

  /** The canonical stopword list every surface shares: the Scala quality
    * kernels (graft.northstar.TextAnalysis.defaultStopwords aliases
    * this) AND the SQL-registered `text_stats` — registering the SQL
    * surface with an empty set would silently pin stopHits at 0 for
    * pure-SQL users.
    */
  val DefaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be", "this")

  /** ASCII whitespace for [[asciiStrip]]: 0x20 or 0x09–0x0D (tab, LF,
    * VT, FF, CR) — the `" \t\n\r"` set byte-wise.
    */
  @inline private def isAsciiWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  /** Both-ends ASCII-whitespace strip (see [[AsciiStrip]]): byte scan —
    * exact because every target byte is single-byte ASCII and UTF-8
    * continuation/start bytes of multibyte chars are ≥ 0x80, which the
    * predicate never matches. Zero-copy when nothing strips.
    */
  def asciiStrip(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var i = 0
    while (i < n && isAsciiWs(s.getByte(i))) i += 1
    var j = n
    while (j > i && isAsciiWs(s.getByte(j - 1))) j -= 1
    if (i == 0 && j == n) s
    else {
      val b = s.getBytes
      UTF8String.fromBytes(b, i, j - i)
    }
  }

  /** Seed-independent FNV-1a 64-bit core over UTF-8 bytes; the seeded
    * minhash family applies [[mixSeed]] on top.
    */
  private def fnvCore(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xFFL)
      h *= 0x100000001B3L
      i += 1
    }
    h
  }

  /** splitmix64 finalize with seed folded in. */
  private[functions] def mixSeed(h: Long, seed: Long): Long = {
    var z = h + seed * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def hashSeeded(bytes: Array[Byte], from: Int, until: Int,
                         seed: Long): Long =
    mixSeed(fnvCore(bytes, from, until), seed)

  /** Normalized word tokens: lower-case (Locale.ROOT — a tr-locale
    * executor JVM would otherwise lowercase "I" to dotless ı and every
    * fingerprint/signature would depend on the machine it ran on),
    * split on whitespace runs.
    */
  def normTokens(s: UTF8String): Array[String] =
    s.toString.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")

  /** The ONE n-gram construction all three signature kernels share
    * (space-joined words g..g+n-1 into the reused builder, partial gram
    * at the tail): minhash signatures, simhash fingerprints, and
    * bloom/decontam shingles must never disagree on what a gram IS —
    * the build and probe sides of every index depend on it
    * (code-review r13: this loop was hand-copied three times).
    */
  private def gramInto(sb: java.lang.StringBuilder, words: Array[String],
                       g: Int, n: Int): Unit = {
    sb.setLength(0)
    var j = 0
    while (j < n && g + j < words.length) {
      if (j > 0) sb.append(' ')
      sb.append(words(g + j))
      j += 1
    }
  }

  /** k-component minhash signature over word n-gram shingles of the
    * normalized text. Each gram is joined into one reused
    * StringBuilder; its UTF-8 bytes are hashed ONCE through the
    * seed-independent FNV core, then each of the k signature slots pays
    * only a cheap splitmix finalization — k byte passes collapse to
    * one. Duplicate grams re-hash (harmless for the min; dedup would
    * cost a set allocation per row).
    */
  def minhash(s: UTF8String, n: Int, k: Int): ArrayData = {
    val words = normTokens(s)
    val nGrams = math.max(1, words.length - n + 1)
    val mins = Array.fill(k)(Long.MaxValue)
    val sb = new java.lang.StringBuilder
    var g = 0
    while (g < nGrams) {
      gramInto(sb, words, g, n)
      val bytes = sb.toString.getBytes("UTF-8")
      // FNV core is seed-independent: hash the gram bytes ONCE, then k
      // cheap splitmix finalizations — not k full byte passes
      val core = fnvCore(bytes, 0, bytes.length)
      var i = 0
      while (i < k) {
        val h = mixSeed(core, i + 1L)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      g += 1
    }
    new GenericArrayData(mins)
  }

  /** 64-bit SimHash over word n-gram shingles (n=3) of the normalized
    * text: bit j set iff the signed count of shingle-hash bit j is
    * positive. Shingles (not unigrams) as the feature set make the
    * fingerprint order-sensitive — on vocabulary-limited corpora unigram
    * SimHash collapses (every doc shares most words), shingle SimHash
    * keeps discriminating.
    */
  def simhash(s: UTF8String): Long = {
    val words = normTokens(s)
    val n = 3
    val nGrams = math.max(1, words.length - n + 1)
    val counts = new Array[Int](64)
    val sb = new java.lang.StringBuilder
    var g = 0
    while (g < nGrams) {
      gramInto(sb, words, g, n)
      val bytes = sb.toString.getBytes("UTF-8")
      val h = hashSeeded(bytes, 0, bytes.length, 0L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      g += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  private val HexDigits = "0123456789abcdef".getBytes("US-ASCII")

  /** Unsigned byte-wise compare of two equal-length digests — the
    * ordering lowercase-hex strings of the digests sort in, so the
    * windowed min below selects exactly the fingerprint `array_min`
    * over `md5(...)` hex strings selected.
    */
  @inline private def digestLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d < 0
      i += 1
    }
    false
  }

  /** Fused winnowing sketch over a token array: the selected-fingerprint
    * set of [[graft.northstar.Dedup.winnowSketch]] in ONE JVM loop per
    * row. Semantics are EXACTLY the former higher-order-expression
    * formulation (the DuckDB oracles replay it, so it cannot drift):
    *   - gram fingerprints fps(t) = md5(utf8(space-join(t[i..i+k-1])))
    *     as lowercase hex, i = 1..max(1, len-k+1) (a slice shorter than
    *     k at the tail — or an empty chunk — joins what it has; the
    *     single gram of a short chunk is the whole chunk);
    *   - selections = array_min over each window-length slice of fps,
    *     j = 1..len(fps) (window clipped at the tail);
    *   - docs longer than chunkTokens sketch per chunk (starts
    *     1, 1+stride, .. <= max(1, len-(window+k-2)) with
    *     stride = chunkTokens-(window+k-2), chunks clipped at the end)
    *     and the per-chunk selections are concatenated;
    *   - the result is distinct in first-occurrence order
    *     (array_distinct semantics).
    * Why a kernel (optimization r20, guide "per-task work"): the
    * expression form allocated a string + byte array + digest per gram
    * through transform/slice/array_join/md5 — measured 0.85 s of pure
    * CPU for one 5k-doc batch — and its generated method was the
    * suite's largest codegen unit. The fused loop reuses one
    * MessageDigest and one joined-gram buffer, hashes token bytes
    * directly, and compares raw digests instead of hex strings;
    * only the SELECTED fingerprints pay the hex encode.
    */
  def winnowSketch(w: ArrayData, k: Int, window: Int,
                   chunkTokens: Int): ArrayData = {
    require(k >= 1 && window >= 1, s"need positive k/window, got $k/$window")
    require(chunkTokens >= window + k - 1,
      s"chunkTokens=$chunkTokens must cover one full window+gram span " +
        s"(>= ${window + k - 1})")
    val n = w.numElements()
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { toks(i) = w.getUTF8String(i).getBytes; i += 1 }
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new java.util.LinkedHashSet[UTF8String]()
    def hexOf(d: Array[Byte]): UTF8String = {
      val h = new Array[Byte](32)
      var j = 0
      while (j < 16) {
        h(2 * j) = HexDigits((d(j) >> 4) & 0xF)
        h(2 * j + 1) = HexDigits(d(j) & 0xF)
        j += 1
      }
      UTF8String.fromBytes(h)
    }
    // one chunk: grams from `start` (0-based) over `len` tokens
    def sketchChunk(start: Int, len: Int): Unit = {
      val g = math.max(1, len - (k - 1))
      val digs = new Array[Array[Byte]](g)
      var gi = 0
      while (gi < g) {
        md.reset()
        val lim = math.min(k, len - gi)
        var j = 0
        while (j < lim) {
          if (j > 0) md.update(' '.toByte)
          md.update(toks(start + gi + j))
          j += 1
        }
        digs(gi) = md.digest()
        gi += 1
      }
      var s = 0
      while (s < g) {
        var best = digs(s)
        val end = math.min(s + window, g)
        var t = s + 1
        while (t < end) {
          if (digestLt(digs(t), best)) best = digs(t)
          t += 1
        }
        out.add(hexOf(best)): Unit
        s += 1
      }
    }
    if (n <= chunkTokens) sketchChunk(0, n)
    else {
      val stride = chunkTokens - (window + k - 2)
      val upper = math.max(1, n - (window + k - 2)) // 1-based chunk starts
      var s1 = 1
      while (s1 <= upper) {
        sketchChunk(s1 - 1, math.min(chunkTokens, n - (s1 - 1)))
        s1 += stride
      }
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** Distinct word n-gram shingles of the normalized text. */
  def shingles(s: UTF8String, n: Int): ArrayData = {
    val words = normTokens(s)
    val nGrams = math.max(1, words.length - n + 1)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val sb = new java.lang.StringBuilder
    var g = 0
    while (g < nGrams) {
      gramInto(sb, words, g, n)
      seen.add(UTF8String.fromString(sb.toString)): Unit
      g += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  /** Per-profile stopword hit counts in ONE tokenization pass: tokens =
    * lower/trim/split-\s+ (same rule as shingles/minhash), result(i) =
    * number of tokens contained in sets(i), duplicates counted. The
    * codegen replacement for N interpreted `filter(tokens, isin(...))`
    * higher-order chains (language-ID runs 4 of them per row).
    */
  def profileHits(s: UTF8String,
                  sets: Array[java.util.HashSet[String]]): ArrayData = {
    val words = normTokens(s)
    val counts = new Array[Int](sets.length)
    var w = 0
    while (w < words.length) {
      var p = 0
      while (p < sets.length) {
        if (sets(p).contains(words(w))) counts(p) += 1
        p += 1
      }
      w += 1
    }
    new GenericArrayData(counts)
  }

  /** Fused per-row text statistics in ONE pass over the string:
    * [nChars, nTokens, nPunct, stopHits]. Replaces four separate
    * regex/split projections (length, split-size, regexp_replace length
    * diff, stopword HOF) in the quality/curation hot path — at corpus
    * scale the narrow text pass dominates, so per-row constant factors
    * are the whole game. Semantics pinned to the column formulations
    * the oracles verify:
    * - nChars  = length(text) (character count, not UTF-16 units)
    * - nTokens = size(split(trim(text), "\s+")) with blank → 0: trim
    *   strips 0x20 only, and Spark's split (limit -1) KEEPS empty
    *   tokens, so non-space whitespace at EITHER boundary of the
    *   space-trimmed view yields an empty-token artifact the kernel
    *   must count to stay column-formulation-exact (leading: like Java
    *   split; trailing: unlike Java split, which drops it)
    * - nPunct  = count of [.,;:!?]
    * - stopHits = lower-cased whitespace tokens contained in the set
    *   (String.trim bounds, like [[normTokens]])
    */
  def textStats(s: UTF8String, stops: java.util.HashSet[String]): ArrayData = {
    val str = s.toString
    def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    var np = 0L
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (c == '.' || c == ',' || c == ';' || c == ':' || c == '!' || c == '?')
        np += 1
      i += 1
    }
    // token count over the space-trimmed view
    var lo = 0; var hi = str.length
    while (lo < hi && str.charAt(lo) == ' ') lo += 1
    while (hi > lo && str.charAt(hi - 1) == ' ') hi -= 1
    var nt = 0L
    if (hi > lo) {
      if (isWs(str.charAt(lo))) nt += 1 // split()'s leading empty token
      var inRun = false
      var j = lo
      while (j < hi) {
        if (!isWs(str.charAt(j))) { if (!inRun) { nt += 1; inRun = true } }
        else inRun = false
        j += 1
      }
      // Spark split keeps the TRAILING empty token too (limit -1):
      // "hello world\n" space-trims to itself and splits to 3
      if (isWs(str.charAt(hi - 1))) nt += 1
    }
    // stopword hits over lower-cased (Locale.ROOT, see normTokens),
    // String.trim-bounded tokens
    val lower = str.toLowerCase(java.util.Locale.ROOT)
    var lo2 = 0; var hi2 = lower.length
    while (lo2 < hi2 && lower.charAt(lo2) <= ' ') lo2 += 1
    while (hi2 > lo2 && lower.charAt(hi2 - 1) <= ' ') hi2 -= 1
    var sh = 0L
    var a = lo2
    while (a < hi2) {
      if (isWs(lower.charAt(a))) a += 1
      else {
        var b = a
        while (b < hi2 && !isWs(lower.charAt(b))) b += 1
        if (stops.contains(lower.substring(a, b))) sh += 1
        a = b
      }
    }
    new GenericArrayData(Array(s.numChars().toLong, nt, np, sh))
  }

  /** MinHash Jaccard estimate: fraction of equal components. Signatures
    * of DIFFERENT k fail loudly: silently comparing the common prefix
    * would return a plausible estimate with the wrong variance, and the
    * dedup layer's threshold slack (threshold - 2/k) would be computed
    * from a k the data doesn't have.
    */
  def minhashEstimate(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"minhash signatures of different k: ${n} vs ${b.numElements()}")
    if (n == 0) return 0.0
    var eq = 0; var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) eq += 1; i += 1 }
    eq.toDouble / n
  }
}

/** minhash_sig(text) → array<long> of k minhash values over word n-gram
  * shingles of the normalized text.
  */
case class MinHashSig(child: Expression, n: Int, k: Int)
    extends UnaryExpression with org.apache.spark.sql.graftbridge.KernelInputTypes {
  // construction-time guards like every sibling kernel (code-review
  // r18): n=0 built the empty gram at every position, so EVERY
  // document got the identical signature — minhash_est read 1.0 for
  // all pairs and dedup silently marked the whole corpus duplicate;
  // k=0 made empty signatures whose estimate pinned 0.0
  require(n >= 1, s"minhash shingle width n must be >= 1, got $n")
  require(k >= 1, s"minhash signature length k must be >= 1, got $k")
  // declared, not convention: on the SQL surface a non-string argument
  // previously passed analysis and threw a ClassCastException in an
  // executor (code-review r13) — the analyzer now coerces or rejects
  override def kernelInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextOps.minhash(v.asInstanceOf[UTF8String], n, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.TextOps.minhash($v, $n, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** winnow_sketch(array<string>, k, window, chunkTokens) →
  * array<string>: the fused winnowing-sketch kernel
  * ([[TextOps.winnowSketch]]) behind
  * [[graft.northstar.Dedup.winnowSketch]].
  */
case class WinnowSketchExpr(child: Expression, k: Int, window: Int,
                            chunkTokens: Int)
    extends UnaryExpression with org.apache.spark.sql.graftbridge.KernelInputTypes {
  require(k >= 1 && window >= 1, s"need positive k/window, got $k/$window")
  require(chunkTokens >= window + k - 1,
    s"chunkTokens=$chunkTokens must cover one full window+gram span " +
      s"(>= ${window + k - 1})")
  override def kernelInputTypes: Seq[DataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextOps.winnowSketch(v.asInstanceOf[ArrayData], k, window, chunkTokens)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.TextOps.winnowSketch($v, $k, $window, $chunkTokens)")
  override protected def withNewChildInternal(newChild: Expression): WinnowSketchExpr =
    copy(child = newChild)
}

/** shingles(text) → array<string> of distinct word n-gram shingles. */
case class ShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with org.apache.spark.sql.graftbridge.KernelInputTypes {
  // n=0 yielded the single empty shingle for every document — every
  // pair read Jaccard 1.0 (code-review r18, the MinHashSig guard)
  require(n >= 1, s"shingle width n must be >= 1, got $n")
  override def kernelInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextOps.shingles(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.TextOps.shingles($v, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

/** simhash64(text) → long fingerprint. */
case class SimHash64(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.graftbridge.KernelInputTypes {
  override def kernelInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TextOps.simhash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.TextOps.simhash($v)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** profile_hits(text) → array<int>: per-stopword-profile token hit counts
  * in one tokenization pass. Profile sets ride into generated code as a
  * reference object, so the kernel stays inside whole-stage codegen.
  */
case class ProfileHits(child: Expression, profiles: Seq[Seq[String]])
    extends UnaryExpression with org.apache.spark.sql.graftbridge.KernelInputTypes {
  override def kernelInputTypes: Seq[DataType] = Seq(StringType)
  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    profiles.map { p =>
      val s = new java.util.HashSet[String](p.size * 2)
      p.foreach(s.add)
      s
    }.toArray

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextOps.profileHits(v.asInstanceOf[UTF8String], sets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("profileSets", sets, "java.util.HashSet[]")
    defineCodeGen(ctx, ev, v => s"graft.functions.TextOps.profileHits($v, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): ProfileHits =
    copy(child = newChild)
}

/** minhash_est(sigA, sigB) → double: estimated Jaccard. */
case class MinHashEst(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.graftbridge.KernelInputTypes {
  override def kernelInputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextOps.minhashEstimate(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.TextOps.minhashEstimate($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashEst =
    copy(left = newLeft, right = newRight)
}

/** text_stats(text) → array<long> [nChars, nTokens, nPunct, stopHits]
  * in one string pass (see TextOps.textStats). The stopword set rides
  * into generated code as a reference object.
  */
case class TextStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with org.apache.spark.sql.graftbridge.KernelInputTypes {
  override def kernelInputTypes: Seq[DataType] = Seq(StringType)
  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](stopwords.size * 2)
    stopwords.foreach(s.add)
    s
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextOps.textStats(v.asInstanceOf[UTF8String], set)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopSet", set, "java.util.HashSet")
    defineCodeGen(ctx, ev, v => s"graft.functions.TextOps.textStats($v, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

/** The ONE canonical (name → builder) list both SQL surfaces install —
  * a second hand-maintained copy in either registrar would let the
  * per-session and session-extensions surfaces silently drift (caught
  * drifting in r11: `text_stats` was registered with Nil stopwords, so
  * SQL users got stopHits ≡ 0 while the Scala surface counted).
  */
private[functions] object kernelBuilders {
  // exact-arity enforcement: the parameterized kernels (n/k/planes)
  // take their tuning as SCALA constructor constants, not SQL args — a
  // SQL call like `minhash_sig(text, 5, 64)` used to silently DISCARD
  // the extra arguments and build the default n=3/k=16 signature, which
  // downstream k=64 threshold math then mis-scored with no error
  // (code-review r14)
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es => {
      if (es.length != n) throw new IllegalArgumentException(
        s"$name takes exactly $n argument(s), got ${es.length} — the " +
          "tuning parameters are fixed at registration (use the Scala " +
          "API for custom n/k/planes)")
      build(es)
    }
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_cosine" -> arity("vec_cosine", 2)(es => FloatVecCosine(es(0), es(1))),
    "vec_dot" -> arity("vec_dot", 2)(es => FloatVecDot(es(0), es(1))),
    "lsh_buckets" -> arity("lsh_buckets", 1)(es =>
      HyperplaneBuckets(es.head, 4, 8)),
    "minhash_sig" -> arity("minhash_sig", 1)(es => MinHashSig(es.head, 3, 16)),
    "simhash64" -> arity("simhash64", 1)(es => SimHash64(es.head)),
    "minhash_est" -> arity("minhash_est", 2)(es => MinHashEst(es(0), es(1))),
    "shingles" -> arity("shingles", 1)(es => ShinglesExpr(es.head, 3)),
    // parameter-free like simhash64 — its absence contradicted the
    // "every graft kernel becomes available to pure-SQL users" claim,
    // and the T4 trim path was the one kernel a SQL-gateway user
    // could not call (code-review r18)
    "ascii_strip" -> arity("ascii_strip", 1)(es => AsciiStrip(es.head)),
    "text_stats" -> arity("text_stats", 1)(es =>
      TextStats(es.head, TextOps.DefaultStopwords)))
}

/** SQL registration for all graft kernel expressions
  * ([[kernelBuilders]]), so the arbitrary-SQL surface (Q1) can call
  * them.
  */
object registry {
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val fr = spark.sessionState.functionRegistry
    kernelBuilders.all.foreach { case (name, builder) =>
      fr.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** Session-extensions installer: every graft kernel becomes available to
  * pure-SQL users through the standard deployment hook —
  * `spark.sql.extensions=graft.functions.GraftExtensions` — with no code
  * access needed (SQL gateways, thrift servers, notebook-only users).
  * Same [[kernelBuilders]] surface as [[registry.registerAll]], bound at
  * session build time instead of per-session mutation.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    kernelBuilders.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
  }
}

/** ascii_strip(string) → string: both-ends strip of ASCII whitespace
  * (space, \t, \n, \r, VT \u000B, FF \u000C) — exactly
  * `trim(col, Transforms.TrimChars)`,
  * which is the pandas `str.strip()` subset Transforms.trimWhitespace
  * needs (T4). Exists for speed, not semantics: the generic two-arg
  * StringTrim matches each boundary char against the trim-set through
  * full UTF-8 character iteration, which put ~0.2 s back on the sf0.1
  * flagship when the r14 parity fix switched T4 onto it. The target set
  * is all single-byte ASCII (any byte ≥ 0x80 starts/continues a
  * multibyte char), so a plain byte scan from both ends is exact; the
  * untrimmed common case returns the input object with zero copies.
  */
case class AsciiStrip(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.graftbridge.KernelInputTypes {
  override def kernelInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    TextOps.asciiStrip(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.TextOps.asciiStrip($v)")
  override protected def withNewChildInternal(newChild: Expression): AsciiStrip =
    copy(child = newChild)
}

/** Column-level API for the text-hash kernels. */
object texthash {
  def ascii_strip(text: Column): Column =
    Bridge.column(AsciiStrip(Bridge.expression(text)))
  def minhash_sig(text: Column, n: Int = 3, k: Int = 16): Column =
    Bridge.column(MinHashSig(Bridge.expression(text), n, k))
  def simhash64(text: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(text)))
  def minhash_est(a: Column, b: Column): Column =
    Bridge.column(MinHashEst(Bridge.expression(a), Bridge.expression(b)))
  def shingles(text: Column, n: Int = 3): Column =
    Bridge.column(ShinglesExpr(Bridge.expression(text), n))
  def winnow_sketch(tokens: Column, k: Int, window: Int,
                    chunkTokens: Int): Column =
    Bridge.column(WinnowSketchExpr(Bridge.expression(tokens), k, window,
      chunkTokens))
  def profile_hits(text: Column, profiles: Seq[Seq[String]]): Column =
    Bridge.column(ProfileHits(Bridge.expression(text), profiles))
  def text_stats(text: Column, stopwords: Seq[String]): Column =
    Bridge.column(TextStats(Bridge.expression(text), stopwords))
}
