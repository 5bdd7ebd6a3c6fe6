package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document text kernels behind the native expressions below.
  *
  * These loops run ONCE PER DOCUMENT (not once per gram/shingle row),
  * which is the whole point: the r1 formulations exploded every char
  * position / (shingle × seed) into rows and paid two hash-aggregate
  * exchanges per operator; the kernel computes the same value in one
  * in-memory pass and the operator becomes a mapper. The expressions'
  * `doGenCode` emits a single static call, so projections stay inside
  * whole-stage codegen.
  *
  * All string positions are code-point based, matching Spark's
  * `substring`/`length` and DuckDB's `substr`/`length` semantics.
  */
object TextKernels {

  /** Distinct character n-grams in first-occurrence order. */
  def ngramSet(t: UTF8String, n: Int): ArrayData = {
    val cps = t.toString.codePoints().toArray
    if (cps.length < n) return new GenericArrayData(Array.empty[Any])
    val set = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= cps.length - n) {
      set.add(new String(cps, i, n))
      i += 1
    }
    val out = new Array[Any](set.size)
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** |a ∩ b| for arrays whose elements are already distinct. */
  def overlapCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return 0
    val set = new java.util.HashSet[UTF8String](na * 2)
    var i = 0
    while (i < na) { set.add(a.getUTF8String(i)); i += 1 }
    var c = 0
    var j = 0
    while (j < nb) { if (set.contains(b.getUTF8String(j))) c += 1; j += 1 }
    c
  }

  private val HEX = "0123456789abcdef".toCharArray

  /** Distinct word-3-gram shingles in first-occurrence order; empty
    * when the doc has fewer than 3 tokens. Same strings as the explode
    * formulation (split on single spaces, empties kept).
    */
  def wordShingleSet(t: UTF8String): ArrayData = {
    val toks = t.toString.split(" ", -1)
    if (toks.length < 3) return new GenericArrayData(Array.empty[Any])
    val set = new java.util.LinkedHashSet[String]()
    var j = 0
    while (j <= toks.length - 3) {
      set.add(toks(j) + " " + toks(j + 1) + " " + toks(j + 2))
      j += 1
    }
    val out = new Array[Any](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  /** Per-doc minhash signature: seed s in [0, k) orders shingles by the
    * md5 hex digest ROTATED LEFT by 4·s hex chars (= 2·s bytes) and
    * takes the minimum — byte-for-byte the value
    *   min(substr(md5(sh), 4s+1) || substr(md5(sh), 1, 4s))
    * aggregates in the row-per-shingle formulation (and in the DuckDB
    * oracle), computed in one in-memory pass with NO explode and NO
    * shuffle. One digest per shingle serves ALL k seeds (each rotation
    * is a bijection on digests, so every seed is a proper minhash; the
    * r2 scheme md5(s + "|" + shingle) paid k digests per shingle — 8×
    * the hashing for the same candidate-generation role, with the exact
    * Jaccard confirm stage downstream unchanged either way).
    * Tokenization matches Spark `split(text, " ")` (trailing empties
    * kept). Null when the doc has fewer than 3 tokens (no shingles) —
    * callers filter, exactly as shingle-less docs dropped out of the
    * grouped aggregation before.
    */
  def minhashSig(t: UTF8String, k: Int): ArrayData = {
    if (k < 1 || k > 8) throw new IllegalArgumentException(
      s"minhash_sig supports 1..8 seeds (distinct 4-hex-char digest rotations), got $k")
    val toks = t.toString.split(" ", -1)
    if (toks.length < 3) return null
    val md = MessageDigest.getInstance("MD5")
    val tokBytes = toks.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val mins = new Array[Array[Byte]](k)
    var j = 0
    while (j <= toks.length - 3) {
      md.reset()
      md.update(tokBytes(j)); md.update(' '.toByte)
      md.update(tokBytes(j + 1)); md.update(' '.toByte)
      md.update(tokBytes(j + 2))
      val d = md.digest()
      var s = 0
      while (s < k) {
        // hex order == unsigned byte order, so compare rotated digests
        // raw and hex-encode only the k winners at the end
        if (mins(s) == null || rotatedLess(d, mins(s), 2 * s)) mins(s) = d
        s += 1
      }
      j += 1
    }
    val out = new Array[Any](k)
    var s = 0
    while (s < k) { out(s) = UTF8String.fromString(rotatedHex(mins(s), 2 * s)); s += 1 }
    new GenericArrayData(out)
  }

  /** Unsigned byte-wise compare of two 16-byte digests, both read
    * starting at byte offset `off` (mod 16) — the rotated-digest order.
    */
  private def rotatedLess(a: Array[Byte], b: Array[Byte], off: Int): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a((i + off) & 15) & 0xff
      val y = b((i + off) & 15) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  private def rotatedHex(d: Array[Byte], off: Int): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      val b = d((i + off) & 15)
      out(2 * i) = HEX((b >> 4) & 0xf)
      out(2 * i + 1) = HEX(b & 0xf)
      i += 1
    }
    new String(out)
  }

  /** 60-bit SimHash as 15 hex chars — identical values to the
    * relational formulation (md5 hex digits 1..15 of EVERY token,
    * duplicates included, ±1 votes per bit, majority → digit) and to
    * the DuckDB oracle, in one per-doc pass with no token explode and
    * no 60-column aggregation.
    */
  def simhash60(t: UTF8String): UTF8String = {
    val toks = t.toString.split(" ", -1)
    val md = MessageDigest.getInstance("MD5")
    val votes = new Array[Int](60)
    var ti = 0
    while (ti < toks.length) {
      md.reset()
      val d = md.digest(toks(ti).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var i = 0
      while (i < 15) { // hex char i: even → high nibble, odd → low
        val nib = if (i % 2 == 0) (d(i / 2) >> 4) & 0xf else d(i / 2) & 0xf
        var k = 0
        while (k < 4) {
          if (((nib >> k) & 1) == 1) votes(i * 4 + k) += 1 else votes(i * 4 + k) -= 1
          k += 1
        }
        i += 1
      }
      ti += 1
    }
    val out = new Array[Char](15)
    var i = 0
    while (i < 15) {
      var dig = 0
      var k = 0
      while (k < 4) { if (votes(i * 4 + k) > 0) dig |= 1 << k; k += 1 }
      out(i) = HEX(dig)
      i += 1
    }
    UTF8String.fromString(new String(out))
  }

  /** Count of maximal ASCII word runs ([A-Za-z0-9_], the \w class both
    * Java and RE2 use for \b by default) whose lowercased form is in
    * the comma-separated `csv` set — exactly regexp_count(lower(text),
    * '\b(w1|w2|…)\b') for plain-word alternations.
    */
  def wordSetCount(t: UTF8String, csv: UTF8String): Int = {
    val words = new java.util.HashSet[String]()
    csv.toString.split(",").foreach(w => words.add(w))
    val s = t.toString
    var count = 0
    var i = 0
    val n = s.length
    val sb = new java.lang.StringBuilder(16)
    while (i <= n) {
      val isWord = i < n && {
        val c = s.charAt(i)
        (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'
      }
      if (isWord) sb.append(Character.toLowerCase(s.charAt(i)))
      else if (sb.length > 0) {
        if (words.contains(sb.toString)) count += 1
        sb.setLength(0)
      }
      i += 1
    }
    count
  }

  /** Count of characters present in `set` — regexp_count(text,
    * '(c1|c2|…)') for single-char alternations (e.g. CJK markers).
    */
  def charSetCount(t: UTF8String, set: UTF8String): Int = {
    val s = t.toString
    val marks = set.toString
    var count = 0
    var i = 0
    while (i < s.length) {
      if (marks.indexOf(s.charAt(i)) >= 0) count += 1
      i += 1
    }
    count
  }

  /** Count of characters c where lowercase(c) ∉ [a-z0-9 ] — exactly
    * regexp_count(lower(text), '[^a-z0-9 ]').
    */
  def nonAlnumSpaceCount(t: UTF8String): Int = {
    val s = t.toString
    var count = 0
    var i = 0
    while (i < s.length) {
      val c = Character.toLowerCase(s.charAt(i))
      if (!((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' ')) count += 1
      i += 1
    }
    count
  }

  /** Count of matches of '[a-z]+|[0-9]+|[^a-z0-9\s]' on lower(text):
    * one per letter run, one per digit run, one per other
    * non-whitespace char (\s = Java/RE2 default [ \t\n\x0B\f\r]).
    */
  /** See [[BpeSegCount]]: per merge, TWO left-to-right passes that
    * mirror non-overlapping string replace on the spaced form — a
    * match consumes the trailing separator, so the pair starting at
    * the token immediately after a merge cannot match in the same
    * pass (its leading space is gone); pass 2 picks those up. This is
    * bit-identical to the double-pass replace chain in
    * TextAnalysis.bpeApplyComposed / bpeLearn / the DuckDB oracles
    * (a plain greedy pass differs on self-pair merges over runs >= 5:
    * "bbbbb" + merge "b b" is [bb,b,bb] under replace, [bb,bb,b]
    * under greedy — and a later "b bb" merge then diverges). Counts
    * only: the serving path never materializes segment strings it
    * won't ship.
    */
  def bpeSegCount(t: UTF8String, merges: Array[(String, String)]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val words = t.toString.split(" ", -1)
    var total = 0L
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.isEmpty) total += 1 // composed-path trim/split quirk
      else {
        var toks: Array[String] = new Array[String](w.length)
        var ci = 0
        while (ci < w.length) { toks(ci) = String.valueOf(w.charAt(ci)); ci += 1 }
        var mi = 0
        while (mi < merges.length) {
          val (x, y) = merges(mi)
          var pass = 0
          var mergedInPass1 = true
          while (pass < 2 && mergedInPass1) {
            val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
            var i = 0
            var blocked = false // leading separator consumed by the previous match
            var any = false
            while (i < toks.length) {
              if (!blocked && i + 1 < toks.length && toks(i) == x && toks(i + 1) == y) {
                out += x + y; i += 2; blocked = true; any = true
              } else { out += toks(i); i += 1; blocked = false }
            }
            toks = out.toArray
            mergedInPass1 = any // unchanged input => pass 2 finds nothing
            pass += 1
          }
          mi += 1
        }
        total += toks.length
      }
      wi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](total, words.length.toLong))
  }

  def bpeTokenCount(t: UTF8String): Int = {
    val s = t.toString
    var count = 0
    var i = 0
    val n = s.length
    while (i < n) {
      val c = Character.toLowerCase(s.charAt(i))
      if (c >= 'a' && c <= 'z') {
        count += 1
        while (i < n && { val d = Character.toLowerCase(s.charAt(i)); d >= 'a' && d <= 'z' }) i += 1
      } else if (c >= '0' && c <= '9') {
        count += 1
        while (i < n && { val d = s.charAt(i); d >= '0' && d <= '9' }) i += 1
      } else {
        if (!(c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r')) count += 1
        i += 1
      }
    }
    count
  }

  /** Collapse every run of whitespace ([ \t\n\x0B\f\r] — Java/RE2 \s)
    * to a single space in one pass — exactly
    * regexp_replace(text, '\s+', ' ') without the regex engine.
    */
  def wsNormalize(t: UTF8String): UTF8String = {
    val s = t.toString
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var i = 0
    var inWs = false
    while (i < n) {
      val c = s.charAt(i)
      val ws = c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'
      if (ws) { if (!inWs) out.append(' '); inWs = true }
      else { out.append(c); inWs = false }
      i += 1
    }
    UTF8String.fromString(out.toString)
  }

  /** Word-bigram repetition stats in ONE pass: [total_bigram_occurrences,
    * occurrences_belonging_to_duplicated_bigrams, top_bigram_count].
    * The Gopher/C4-class repetition signals (duplicate-n-gram fraction,
    * most-common-n-gram share) derive from these by exact integer
    * division. Tokenization matches split(text, " ") with empties kept;
    * [0,0,0] when the doc has fewer than 2 tokens.
    */
  def repStats(t: UTF8String): ArrayData = {
    val toks = t.toString.split(" ", -1)
    if (toks.length < 2) return new GenericArrayData(Array[Any](0L, 0L, 0L))
    val counts = new java.util.HashMap[String, Int](toks.length * 2)
    var j = 0
    while (j < toks.length - 1) {
      counts.merge(toks(j) + " " + toks(j + 1), 1, Integer.sum _)
      j += 1
    }
    var dup = 0L
    var top = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      if (c > 1) dup += c
      if (c > top) top = c
    }
    new GenericArrayData(Array[Any]((toks.length - 1).toLong, dup, top))
  }

  /** alpha_word_count(text) → tokens (split on ' ') containing at
    * least one ASCII letter — the Gopher alpha-word rule's counter as
    * one pass (the lambda-filter + per-token rlike it replaces is an
    * interpreted HOF running a regex per token: the measured hot spot
    * of doc_gopher_filter at sf1).
    */
  def alphaWordCount(t: UTF8String): Long = {
    val s = t.toString
    var count = 0L
    var hasAlpha = false
    var i = 0
    val n = s.length
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        if (hasAlpha) count += 1
        hasAlpha = false
      } else {
        val c = s.charAt(i)
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) hasAlpha = true
      }
      i += 1
    }
    count
  }

  /** dsir_score(text, weightsCsv) → [n_tokens, score]: sum of the
    * per-token bucket weights, bucket = first md5 byte (= the first two
    * hex chars the SQL oracle decodes). One digest per token, one pass
    * per doc — the 256-weight table arrives as a bounded literal, so
    * DSIR scoring is a pure mapper and nothing doc-shaped shuffles.
    */
  def dsirScore(t: UTF8String, csv: UTF8String): ArrayData = {
    val w = csv.toString.split(",").map(java.lang.Long.parseLong)
    val toks = t.toString.split(" ", -1)
    val md = MessageDigest.getInstance("MD5")
    var score = 0L
    var i = 0
    while (i < toks.length) {
      md.reset()
      val b = md.digest(toks(i).getBytes("UTF-8"))(0) & 0xff
      score += w(b)
      i += 1
    }
    new GenericArrayData(Array[Any](toks.length.toLong, score))
  }

  /** winnow_set(text) → sorted distinct window-min Karp-Rabin char
    * 8-gram hashes (w=8, B=131, M=1e9+7) — MOSS winnowing fingerprint
    * selection (Schleimer et al. SIGMOD'03) as ONE per-doc pass.
    * Code-point based so the value matches a SQL ord()/substr
    * polynomial replay exactly; a doc shorter than one full window
    * selects the single all-grams minimum (Scala `sliding` semantics).
    */
  def winnowSet(t: UTF8String): ArrayData = {
    val cps = t.toString.codePoints().toArray
    val k = 8; val w = 8; val B = 131L; val M = 1000000007L
    if (cps.length < k) return new GenericArrayData(Array.empty[Any])
    val H = cps.length - k + 1
    val hashes = new Array[Long](H)
    var pow = 1L; var h = 0L; var i = 0
    while (i < k) { h = (h * B + cps(i)) % M; if (i < k - 1) pow = (pow * B) % M; i += 1 }
    hashes(0) = h
    i = k
    while (i < cps.length) {
      h = ((h - (cps(i - k) * pow) % M + M) % M * B + cps(i)) % M
      hashes(i - k + 1) = h
      i += 1
    }
    // primitive mins buffer → sort → in-place dedup (no boxing: this
    // runs once per doc over ~|text| windows, and a boxed TreeSet was
    // the measured hot spot at sf1)
    val nWin = math.max(H - w + 1, 1)
    val mins = new Array[Long](nWin)
    var j = 0
    while (j < nWin) {
      var m = Long.MaxValue
      var x = j
      val end = math.min(j + w, H)
      while (x < end) { if (hashes(x) < m) m = hashes(x); x += 1 }
      mins(j) = m
      j += 1
    }
    java.util.Arrays.sort(mins)
    var uniq = 1
    var r = 1
    while (r < nWin) {
      if (mins(r) != mins(r - 1)) { mins(uniq) = mins(r); uniq += 1 }
      r += 1
    }
    val out = new Array[Any](uniq)
    var o = 0
    while (o < uniq) { out(o) = mins(o); o += 1 }
    new GenericArrayData(out)
  }

}

private[functions] trait StaticCallExpr { self: BinaryExpression =>
  protected def kernel: String // fully-qualified static method
  protected def check(name: String, want: String, ok: (DataType, DataType) => Boolean): TypeCheckResult =
    if (ok(left.dataType, right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires $want, got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
}

/** char_ngram_set(text, n) → array<string> of distinct n-grams. */
case class CharNgramSet(left: Expression, right: Expression)
  extends BinaryExpression with StaticCallExpr {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  protected val kernel = "graft.functions.TextKernels"

  override def checkInputDataTypes(): TypeCheckResult =
    check("char_ngram_set", "(string, int)",
      (l, r) => l == StringType && r == IntegerType)

  override def nullSafeEval(t: Any, n: Any): Any =
    TextKernels.ngramSet(t.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n) => s"${ev.value} = $kernel.ngramSet($t, $n);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "char_ngram_set"
}

/** array_overlap_count(a, b) → |a ∩ b| for distinct-element arrays. */
case class ArrayOverlapCount(left: Expression, right: Expression)
  extends BinaryExpression with StaticCallExpr {

  override def dataType: DataType = IntegerType
  protected val kernel = "graft.functions.TextKernels"

  override def checkInputDataTypes(): TypeCheckResult =
    check("array_overlap_count", "two array<string> arguments", (l, r) => (l, r) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) => true
      case _ => false
    })

  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.overlapCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $kernel.overlapCount($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "array_overlap_count"
}

/** minhash_sig(text, k) → array<string> of k seed-minhashes; null when
  * the doc has no word-3-gram shingles.
  */
case class MinhashSig(left: Expression, right: Expression)
  extends BinaryExpression with StaticCallExpr {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true // docs with < 3 tokens
  protected val kernel = "graft.functions.TextKernels"

  override def checkInputDataTypes(): TypeCheckResult =
    check("minhash_sig", "(string, int)",
      (l, r) => l == StringType && r == IntegerType)

  override def nullSafeEval(t: Any, k: Any): Any =
    TextKernels.minhashSig(t.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k) => s"""
      |${ev.value} = $kernel.minhashSig($t, $k);
      |${ev.isNull} = ${ev.value} == null;
    """.stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "minhash_sig"
}

/** simhash60(text) → 15-hex-char 60-bit SimHash. */
case class SimHash60(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash60 requires a string argument, got ${child.dataType.simpleString}")

  override def nullSafeEval(t: Any): Any =
    TextKernels.simhash60(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      t => s"${ev.value} = graft.functions.TextKernels.simhash60($t);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "simhash60"
}

/** word_shingle_set(text) → array<string> of distinct word-3-gram
  * shingles (empty when < 3 tokens).
  */
case class WordShingleSet(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingle_set requires a string argument, got ${child.dataType.simpleString}")

  override def nullSafeEval(t: Any): Any =
    TextKernels.wordShingleSet(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      t => s"${ev.value} = graft.functions.TextKernels.wordShingleSet($t);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "word_shingle_set"
}

/** word_set_count(text, csvWords) → \b-bounded whole-word match count. */
case class WordSetCount(left: Expression, right: Expression)
  extends BinaryExpression with StaticCallExpr {

  override def dataType: DataType = IntegerType
  protected val kernel = "graft.functions.TextKernels"

  override def checkInputDataTypes(): TypeCheckResult =
    check("word_set_count", "(string, string)",
      (l, r) => l == StringType && r == StringType)

  override def nullSafeEval(t: Any, w: Any): Any =
    TextKernels.wordSetCount(t.asInstanceOf[UTF8String], w.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, w) => s"${ev.value} = $kernel.wordSetCount($t, $w);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "word_set_count"
}

/** char_set_count(text, chars) → count of chars present in the set. */
case class CharSetCount(left: Expression, right: Expression)
  extends BinaryExpression with StaticCallExpr {

  override def dataType: DataType = IntegerType
  protected val kernel = "graft.functions.TextKernels"

  override def checkInputDataTypes(): TypeCheckResult =
    check("char_set_count", "(string, string)",
      (l, r) => l == StringType && r == StringType)

  override def nullSafeEval(t: Any, w: Any): Any =
    TextKernels.charSetCount(t.asInstanceOf[UTF8String], w.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, w) => s"${ev.value} = $kernel.charSetCount($t, $w);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "char_set_count"
}

/** non_alnum_space_count(text) → chars outside [a-z0-9 ] after lower. */
case class NonAlnumSpaceCount(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"non_alnum_space_count requires a string argument, got ${child.dataType.simpleString}")

  override def nullSafeEval(t: Any): Any =
    TextKernels.nonAlnumSpaceCount(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      t => s"${ev.value} = graft.functions.TextKernels.nonAlnumSpaceCount($t);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "non_alnum_space_count"
}

/** bpe_token_count(text) → '[a-z]+|[0-9]+|[^a-z0-9\s]' match count. */
case class BpeTokenCount(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_token_count requires a string argument, got ${child.dataType.simpleString}")

  override def nullSafeEval(t: Any): Any =
    TextKernels.bpeTokenCount(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      t => s"${ev.value} = graft.functions.TextKernels.bpeTokenCount($t);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "bpe_token_count"
}

/** bpe_seg_count(text, mergesSpec) → array<long> [n_tokens_bpe,
  * n_words]: every space-separated word segmented to characters and
  * merged by the ordered BPE merge list (per merge, two
  * non-overlapping replace passes — bit-identical to
  * TextAnalysis.bpeApply's double-pass replace chain, see
  * TextKernels.bpeSegCount), counts summed per doc. The composed
  * transform/replace formulation is interpreted (HOFs have no codegen)
  * and re-allocates per merge per word — this kernel is one pass per
  * word with the merge table parsed ONCE per expression instance from
  * the literal spec ("x y;ab c;…"), the PqEncodeCodes discipline.
  * Empty words count one token (the composed path's trim/split quirk,
  * preserved for bit-equality).
  */
case class BpeSegCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, StringType) =>
      if (!right.foldable) TypeCheckResult.TypeCheckFailure(
        "bpe_seg_count: merge spec must be a string literal (the merge " +
          "table is parsed once per expression instance)")
      else if (right.eval(null) == null) TypeCheckResult.TypeCheckFailure(
        "bpe_seg_count: merge spec must be a non-null string literal")
      else TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"bpe_seg_count requires (string, string), got ${l.simpleString} and ${r.simpleString}")
  }

  // the merge spec is a literal: parse once per expression instance
  @transient private lazy val merges: Array[(String, String)] = {
    val s = right.eval(null).asInstanceOf[UTF8String].toString
    if (s.isEmpty) Array.empty
    else s.split(";", -1).map { m =>
      val i = m.indexOf(' ')
      require(i > 0, s"bpe_seg_count: malformed merge '$m'")
      (m.substring(0, i), m.substring(i + 1))
    }
  }

  override def nullSafeEval(t: Any, spec: Any): Any =
    TextKernels.bpeSegCount(t.asInstanceOf[UTF8String], merges)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mergesRef = ctx.addReferenceObj("bpeMerges", merges, "scala.Tuple2[]")
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.functions.TextKernels.bpeSegCount($t, $mergesRef);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "bpe_seg_count"
}

/** ws_normalize(text) → text with every whitespace run collapsed to one
  * space (single-pass regexp_replace(text, '\s+', ' ')).
  */
case class WsNormalize(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ws_normalize requires a string argument, got ${child.dataType.simpleString}")

  override def nullSafeEval(t: Any): Any =
    TextKernels.wsNormalize(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      t => s"${ev.value} = graft.functions.TextKernels.wsNormalize($t);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "ws_normalize"
}

/** rep_stats(text) → array<long> [total_bigram_occurrences,
  * dup_bigram_occurrences, top_bigram_count] (Gopher-class repetition
  * signals, one pass, no explode).
  */
case class RepStats(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rep_stats requires a string argument, got ${child.dataType.simpleString}")

  override def nullSafeEval(t: Any): Any =
    TextKernels.repStats(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      t => s"${ev.value} = graft.functions.TextKernels.repStats($t);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "rep_stats"
}

/** alpha_word_count(text) → count of tokens containing a letter. */
case class AlphaWordCount(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"alpha_word_count requires a string argument, got ${child.dataType.simpleString}")

  override def nullSafeEval(t: Any): Any =
    TextKernels.alphaWordCount(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      t => s"${ev.value} = graft.functions.TextKernels.alphaWordCount($t);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "alpha_word_count"
}

/** dsir_score(text, weights_csv) → array<long> [n_tokens, score]. */
case class DsirScore(left: Expression, right: Expression)
  extends BinaryExpression with StaticCallExpr {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected val kernel = "graft.functions.TextKernels"

  override def checkInputDataTypes(): TypeCheckResult =
    check("dsir_score", "(string, string)",
      (l, r) => l == StringType && r == StringType)

  override def nullSafeEval(t: Any, w: Any): Any =
    TextKernels.dsirScore(t.asInstanceOf[UTF8String], w.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, w) => s"${ev.value} = $kernel.dsirScore($t, $w);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "dsir_score"
}

/** winnow_set(text) → sorted distinct winnowing fingerprints
  * (array<long>; empty when the doc has no char 8-gram).
  */
case class WinnowSet(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_set requires a string argument, got ${child.dataType.simpleString}")

  override def nullSafeEval(t: Any): Any =
    TextKernels.winnowSet(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      t => s"${ev.value} = graft.functions.TextKernels.winnowSet($t);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "winnow_set"
}

object TextExpressions {
  /** [[Native.register]], kept under this name for its existing callers. */
  def register(spark: SparkSession): Unit = Native.register(spark)
}
