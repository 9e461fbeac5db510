package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native shingle / MinHash expressions.
 *
 * The declarative formulation (split → filter → transform(sequence) →
 * array_distinct → transform(md5) → 8 × array_min slices) is
 * semantically exact but catastrophic in practice: higher-order
 * functions run interpreted, and CollapseProject inlines the alias
 * chain so the tokenizer is re-evaluated ~40× per row (observed via
 * explain at sf0.1 — 17 s for 5 000 docs). One imperative pass per
 * row does the whole pipeline in O(len): these expressions ARE that
 * pass, with codegen via static calls so they sit inside
 * whole-stage-codegen'd projections.
 *
 * Semantics are kept bit-compatible with the declarative version and
 * the DuckDB oracle (graft.dedup.DedupQueries): UTF8String.toLowerCase
 * (locale-independent, same as Spark's `lower`), Java-regex `\s+`
 * split with empties dropped, first-occurrence-order distinct (same as
 * `array_distinct`), lowercase-hex md5 (same as Spark's/DuckDB's
 * `md5`), and lexicographic min over ASCII hex slices.
 */
object TextNative {

  /** Distinct k-token shingles of the lower-cased text, first-occurrence order. */
  def shingleStrings(text: UTF8String, k: Int): Array[String] = {
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    if (toks.length < k) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= toks.length - k) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  def shingles(text: UTF8String, k: Int): ArrayData = {
    val arr = shingleStrings(text, k)
    new GenericArrayData(arr.map(UTF8String.fromString(_): Any))
  }

  /** Positional k-token n-grams of the lower-cased text — one entry
    * per start position, duplicates KEPT (unlike [[shingleStrings]],
    * whose set semantics serve Jaccard/MinHash). The multiset is what
    * span-level duplication metrics need: a gram repeated inside one
    * document contributes once per occurrence to that document's
    * duplicated-span mass. */
  def ngramStrings(text: UTF8String, k: Int): Array[String] = {
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    if (toks.length < k) return Array.empty
    val out = new Array[String](toks.length - k + 1)
    var i = 0
    while (i <= toks.length - k) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  def ngrams(text: UTF8String, k: Int): ArrayData =
    new GenericArrayData(
      ngramStrings(text, k).map(UTF8String.fromString(_): Any))

  /** BMP codepoint ranges the CJK token fallback segments on:
    * Hiragana, Katakana, CJK Ext-A, CJK Unified, Hangul syllables —
    * kept in sync with [[graft.text.TextSql.CjkClassSql]] (the RE2
    * mirror is built from the same bounds). */
  private def isCjkCp(cp: Int): Boolean =
    (cp >= 0x3040 && cp <= 0x30ff) || (cp >= 0x3400 && cp <= 0x4dbf) ||
      (cp >= 0x4e00 && cp <= 0x9fff) || (cp >= 0xac00 && cp <= 0xd7af)

  /** ASCII whitespace per JAVA's `\s` — [ \t\n\x0B\f\r], matching
    * [[graft.text.TextAnalysis.tokens]]'s split exactly (the non-CJK
    * runs of [[cjkTokenStrings]] must tokenize identically to the
    * base tokenizer). NOTE the deliberate one-char asymmetry with the
    * DuckDB mirror: RE2's `\s` omits U+000B (vertical tab), so a
    * VT-containing text diverges between engines — accepted because
    * the base `tokens()`/`TextSql.tokens` pair carries the same
    * asymmetry, and dropping 0x0B here would instead diverge from the
    * base tokenizer INSIDE the engine. Character.isWhitespace would
    * be worse still (U+2028/U+3000 splits the SQL mirror can't see). */
  private def isWsCp(cp: Int): Boolean =
    cp == ' '.toInt || (cp >= 0x09 && cp <= 0x0d)

  /**
   * Whitespace tokens with a character-BIGRAM fallback for runs of
   * Han/Kana/Hangul — the standard treatment for scriptio-continua
   * scripts in web-corpus pipelines (CC-Net-style): a spaceless CJK
   * sentence is ~one whitespace token, which makes Jaccard dedup,
   * vocab/drift profiles, and span coverage blind to a major corpus
   * family; character bigrams restore sub-sentence granularity with
   * no language model in the loop. Non-CJK runs tokenize exactly as
   * [[graft.text.TextAnalysis.tokens]] (lower-cased, split on ASCII
   * whitespace), so on Latin-script text the two are identical; a
   * CJK run of length n emits its n−1 adjacent bigrams (a lone CJK
   * char emits itself). Mixed tokens ("spark引擎") split at the
   * script boundary — the run structure, not the whitespace, is the
   * unit.
   */
  def cjkTokenStrings(text: UTF8String): Array[String] = {
    val s = text.toLowerCase.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val n = s.length
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      if (isWsCp(cp)) i += Character.charCount(cp)
      else if (isCjkCp(cp)) {
        val runStart = i
        var prev = i
        i += Character.charCount(cp)
        var emitted = false
        while (i < n && isCjkCp(s.codePointAt(i))) {
          val next = i + Character.charCount(s.codePointAt(i))
          out += s.substring(prev, next)
          prev = i
          i = next
          emitted = true
        }
        if (!emitted) out += s.substring(runStart, i)
      } else {
        val runStart = i
        var cont = true
        while (i < n && cont) {
          val c = s.codePointAt(i)
          if (isWsCp(c) || isCjkCp(c)) cont = false
          else i += Character.charCount(c)
        }
        out += s.substring(runStart, i)
      }
    }
    out.toArray
  }

  def cjkTokens(text: UTF8String): ArrayData =
    new GenericArrayData(
      cjkTokenStrings(text).map(UTF8String.fromString(_): Any))

  private val hexChars = "0123456789abcdef".toCharArray

  private val Md5Local: ThreadLocal[MessageDigest] =
    new ThreadLocal[MessageDigest] {
      override def initialValue(): MessageDigest =
        MessageDigest.getInstance("MD5")
    }

  private def md5Hex(s: String): String = {
    val d = Md5Local.get().digest(s.getBytes("UTF-8"))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xF)
      out(2 * i + 1) = hexChars(d(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** Exact Jaccard of two string-array sets (see [[JaccardSim]]). */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    val set = new java.util.HashSet[UTF8String](na * 2)
    var i = 0
    while (i < na) { set.add(a.getUTF8String(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < nb) { if (set.contains(b.getUTF8String(i))) inter += 1; i += 1 }
    inter.toDouble / (na + nb - inter)
  }

  /**
   * Polynomial hash of a string's code points, replicating the
   * declarative fold in graft.text.TextAnalysis.charPolyHash exactly:
   * acc = (acc·31 + codePoint) mod 1000000007, empty string → 0.
   * Spark's `ascii` is codePointAt(0) of the first character
   * (Ascii.nullSafeEval, stringExpressions.scala) and `substr(i, 1)` /
   * `length` count code points, so the fold unit is the code point.
   */
  def charPolyHash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  /**
   * 16-bit SimHash in ONE pass (see graft.dedup.Dedup.simhash16 for
   * the spec): tokens = lower-cased whitespace split (empties
   * dropped), h = charPolyHash(token) mod 2^16, bit j's vote over
   * tokens is +1 if bit j of h is set else −1, fingerprint bit j set
   * iff vote > 0. Bit-identical to the declarative 16×aggregate HOF
   * formulation (h ≥ 0, so `h mod 2^(j+1) ≥ 2^j` IS the bit test),
   * which runs interpreted and re-folds the hash array 16× per row.
   */
  def simHash16(text: UTF8String): Long = {
    val toks = text.toLowerCase.toString.split("\\s+")
    val votes = new Array[Int](16)
    var t = 0
    while (t < toks.length) {
      if (toks(t).nonEmpty) {
        val h = charPolyHash(toks(t)) % 65536L
        var j = 0
        while (j < 16) {
          if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      t += 1
    }
    var fp = 0L
    var j = 0
    while (j < 16) { if (votes(j) > 0) fp |= 1L << j; j += 1 }
    fp
  }

  /**
   * 60-bit SimHash over md5 token hashes, one pass — the BANDED
   * near-dup fingerprint (graft.dedup.Dedup.simhashNearDupPairs).
   * The 16-bit charPolyHash variant cannot band: 4-bit bands have 16
   * distinct keys, so every band bucket is ~n/16 of the corpus and
   * the candidate join is quadratic. Token hash = the first 15 hex
   * chars of md5(token) parsed as int64 (60 bits, always
   * non-negative) — reproducible in any engine with md5 and exact
   * int64 arithmetic; the DuckDB oracle folds the same 15 hex
   * nibbles. Same vote rule as [[simHash16]].
   */
  def simHash60(text: UTF8String): Long = {
    val toks = text.toLowerCase.toString.split("\\s+")
    val votes = new Array[Int](60)
    var t = 0
    while (t < toks.length) {
      if (toks(t).nonEmpty) {
        // thread-local digest: getInstance per TOKEN dominates the
        // fingerprint pass (provider lookup + allocation); digest()
        // leaves the instance reset for the next token
        val d = Md5Local.get().digest(toks(t).getBytes("UTF-8"))
        // first 15 hex chars = bytes 0-6 plus the high nibble of byte 7
        var h = 0L
        var i = 0
        while (i < 7) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
        h = (h << 4) | ((d(7) >> 4) & 0xFL)
        var j = 0
        while (j < 60) {
          if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      t += 1
    }
    var fp = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) fp |= 1L << j; j += 1 }
    fp
  }

  /**
   * WIDE SimHash: `words` independent 60-bit fingerprints from ONE md5
   * per token — word w folds hex chars [15w, 15w+15) of the digest
   * (md5's 32 hex chars supply two full words), so word 0 is
   * bit-identical to [[simHash60]] and the extra width costs no extra
   * digest work. This is the Manku f-bit dial for banded Hamming
   * joins: more bits per band at a FIXED band count shrinks band
   * buckets exponentially (20-bit bands ⇒ n/2^20) where the 60-bit
   * fingerprint's 10-bit bands cap out around ~10M docs.
   */
  def simHashWide(text: UTF8String, words: Int): ArrayData = {
    val toks = text.toLowerCase.toString.split("\\s+")
    val bits = 60 * words
    val votes = new Array[Int](bits)
    var t = 0
    while (t < toks.length) {
      if (toks(t).nonEmpty) {
        val d = Md5Local.get().digest(toks(t).getBytes("UTF-8"))
        var w = 0
        while (w < words) {
          // fold 15 hex nibbles [15w, 15w+15) into a 60-bit hash —
          // nibble i is the high (even i) or low (odd i) half of byte i/2
          var h = 0L
          var i = 15 * w
          val end = i + 15
          while (i < end) {
            val nib =
              if ((i & 1) == 0) (d(i >> 1) >> 4) & 0xF else d(i >> 1) & 0xF
            h = (h << 4) | nib
            i += 1
          }
          var j = 0
          val off = 60 * w
          while (j < 60) {
            if (((h >> j) & 1L) == 1L) votes(off + j) += 1
            else votes(off + j) -= 1
            j += 1
          }
          w += 1
        }
      }
      t += 1
    }
    val out = new Array[Any](words)
    var w = 0
    while (w < words) {
      var fp = 0L
      var j = 0
      val off = 60 * w
      while (j < 60) { if (votes(off + j) > 0) fp |= 1L << j; j += 1 }
      out(w) = fp
      w += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Within-document repetition counts in ONE pass (the Gopher-style
   * repetition signals — Rae et al. 2021 §A1.1 use duplicate-line and
   * top-n-gram fractions; this corpus has no line structure, so the
   * signals are token-based): over the lower-cased whitespace tokens
   * (empties dropped, same tokenization as [[shingleStrings]] and
   * graft.text.TextAnalysis.tokens) —
   *   n_tokens, n_distinct (distinct tokens),
   *   top_bigram / n_bigrams (count of the most frequent 2-gram and
   *   total 2-gram positions, n-1), and top_trigram / n_trigrams.
   * All integer counts: the fractions (dup-token, top-gram) are formed
   * DECLARATIVELY by the caller so the rounding/division semantics
   * live in one place and mirror 1:1 into the DuckDB oracle. The
   * declarative alternative (explode → groupBy(doc, gram) → max) costs
   * two shuffles of the exploded corpus; this is a narrow scan-speed
   * pass with a per-row hash map bounded by document length.
   */
  def repetitionCounts(text: UTF8String): InternalRow = {
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    val distinct = new java.util.HashSet[String](n * 2)
    var i = 0
    while (i < n) { distinct.add(toks(i)); i += 1 }
    def topGram(k: Int): Int = {
      if (n < k) return 0
      val counts = new java.util.HashMap[String, Int]((n - k + 1) * 2)
      var max = 0
      var i = 0
      while (i <= n - k) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
        val key = sb.toString
        val c = counts.getOrDefault(key, 0) + 1
        counts.put(key, c)
        if (c > max) max = c
        i += 1
      }
      max
    }
    new GenericInternalRow(Array[Any](
      n, distinct.size,
      topGram(2), math.max(n - 1, 0),
      topGram(3), math.max(n - 2, 0)))
  }

  /**
   * Term counts of one document: whitespace tokens of `lowered` (empty
   * tokens dropped, as `TextAnalysis.tokens` splits) minus `stops`,
   * one `(token, tf)` struct per distinct token in first-occurrence
   * order. One pass with one hash map, O(tokens): the declarative
   * explode → groupBy(doc, token) count shuffles every token
   * occurrence to count what already sits inside one row. The caller
   * lower-cases (Spark's `lower`), so the tokens are exactly the
   * declarative tokenizer's.
   */
  def termCounts(lowered: UTF8String, stops: java.util.Set[String]): ArrayData = {
    val toks = lowered.toString.split("\\s+")
    val counts = new java.util.LinkedHashMap[String, Array[Int]](toks.length * 2)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty && !stops.contains(t)) {
        val c = counts.get(t)
        if (c == null) counts.put(t, Array(1)) else c(0) += 1
      }
      i += 1
    }
    val out = new Array[Any](counts.size)
    var j = 0
    val it = counts.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(
        Array[Any](UTF8String.fromString(e.getKey), e.getValue()(0)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /**
   * MinHash signature: md5 per shingle, component j = lexicographic
   * min over the j-th 4-hex-char slice. Null components when the
   * shingle set is empty (matches array_min of an empty array).
   */
  def minHashSig(text: UTF8String, k: Int, numHashes: Int): ArrayData = {
    val sh = shingleStrings(text, k)
    if (sh.isEmpty)
      return new GenericArrayData(Array.fill[Any](numHashes)(null))
    val digests = sh.map(md5Hex)
    val out = new Array[Any](numHashes)
    var j = 0
    while (j < numHashes) {
      var min: String = null
      var i = 0
      while (i < digests.length) {
        val slice = digests(i).substring(j * 4, j * 4 + 4)
        if (min == null || slice.compareTo(min) < 0) min = slice
        i += 1
      }
      out(j) = UTF8String.fromString(min)
      j += 1
    }
    new GenericArrayData(out)
  }
}

/**
 * `jaccard_sim(a, b)` — exact Jaccard similarity of two STRING-ARRAY
 * SETS (callers pass distinct arrays, e.g. TokenShingles output):
 * |a∩b| / |a∪b|, 0.0 when both are empty. One hash-set pass instead
 * of the interpreted array_intersect + array_union + size chain —
 * the verification hot loop of the blocked pairwise dedup.
 */
case class JaccardSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "jaccard_sim"
  override def nullSafeEval(a: Any, b: Any): Any =
    TextNative.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.TextNative.jaccard($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSim =
    copy(left = newLeft, right = newRight)
}

/** `token_shingles(text)` → array<string> of distinct k-token shingles. */
case class TokenShingles(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_shingles"
  override def nullSafeEval(input: Any): Any =
    TextNative.shingles(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNative.shingles($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): TokenShingles =
    copy(child = newChild)
}

/** `token_ngrams(text)` → array<string> of positional k-token n-grams
  * (duplicates kept, one per start position — the multiset twin of
  * [[TokenShingles]], see TextNative.ngramStrings). */
/** `cjk_tokens(text)` → array<string>: whitespace tokens with the
  * character-bigram CJK fallback (see TextNative.cjkTokenStrings). */
case class CjkTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cjk_tokens"
  override def nullSafeEval(input: Any): Any =
    TextNative.cjkTokens(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNative.cjkTokens($c)")
  override protected def withNewChildInternal(newChild: Expression): CjkTokens =
    copy(child = newChild)
}

case class TokenNgrams(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_ngrams"
  override def nullSafeEval(input: Any): Any =
    TextNative.ngrams(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNative.ngrams($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): TokenNgrams =
    copy(child = newChild)
}

/** `char_poly_hash(s)` → int64 polynomial code-point hash (see
  * TextNative.charPolyHash) — the engine's content-hash primitive
  * (split/stratified-sample buckets, fingerprints, token hashes) as
  * ONE codegen'd pass. The declarative formulation
  * (TextAnalysis.charPolyHashHof) folds a `sequence(1, length)` array
  * through an interpreted `aggregate` HOF, re-evaluated per REFERENCE
  * when CollapseProject re-inlines the alias into a filter + project —
  * the same pathology SimHash16/MinHashSig fixed. NULL propagates
  * here; callers that need the HOF's NULL→0 wrap in coalesce
  * (TextAnalysis.charPolyHash does). */
case class CharPolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "char_poly_hash"
  override def nullSafeEval(input: Any): Any =
    TextNative.charPolyHash(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextNative.charPolyHash($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): CharPolyHash =
    copy(child = newChild)
}

/** `simhash16(text)` → int64 16-bit SimHash fingerprint (see
  * TextNative.simHash16) — single codegen'd pass over the document. */
case class SimHash16(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "simhash16"
  override def nullSafeEval(input: Any): Any =
    TextNative.simHash16(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNative.simHash16($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)
}

/** `simhash60(text)` → int64 60-bit md5-token SimHash fingerprint (see
  * TextNative.simHash60) — single codegen'd pass over the document. */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "simhash60"
  override def nullSafeEval(input: Any): Any =
    TextNative.simHash60(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNative.simHash60($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** `simhash_wide(text, words)` → array<int64> of `words` 60-bit
  * SimHash fingerprints (see TextNative.simHashWide; word 0 ≡
  * simhash60) — single codegen'd pass over the document. */
case class SimHashWide(child: Expression, words: Int) extends UnaryExpression {
  require(words >= 1 && words <= 2,
    s"simhash_wide: md5 supplies two 60-bit words, got words=$words")
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "simhash_wide"
  override def nullSafeEval(input: Any): Any =
    TextNative.simHashWide(input.asInstanceOf[UTF8String], words)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNative.simHashWide($c, $words)")
  override protected def withNewChildInternal(newChild: Expression): SimHashWide =
    copy(child = newChild)
}

/** `repetition_counts(text)` → struct of within-document repetition
  * counts (see TextNative.repetitionCounts) — single codegen'd pass;
  * callers form the dup-token / top-n-gram fractions declaratively.
  * Multiple struct-field references collapse to ONE evaluation via
  * whole-stage codegen subexpression elimination (verified in
  * PlanQualitySpec). */
case class RepetitionCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = RepetitionCounts.schema
  override def prettyName: String = "repetition_counts"
  override def nullSafeEval(input: Any): Any =
    TextNative.repetitionCounts(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNative.repetitionCounts($c)")
  override protected def withNewChildInternal(newChild: Expression): RepetitionCounts =
    copy(child = newChild)
}

object RepetitionCounts {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("top_bigram", IntegerType, nullable = false),
    StructField("n_bigrams", IntegerType, nullable = false),
    StructField("top_trigram", IntegerType, nullable = false),
    StructField("n_trigrams", IntegerType, nullable = false)))
}

/** `term_counts(lower(text))` → array<struct<token, tf>>: a document's
  * non-stopword term counts in one native pass (see
  * TextNative.termCounts). */
case class TermCounts(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {
  @transient private lazy val stops: java.util.Set[String] =
    new java.util.HashSet[String](java.util.Arrays.asList(stopwords: _*))
  override def dataType: DataType = ArrayType(TermCounts.entry, containsNull = false)
  override def prettyName: String = "term_counts"
  override def nullSafeEval(input: Any): Any =
    TextNative.termCounts(input.asInstanceOf[UTF8String], stops)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("stops", stops, "java.util.Set")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNative.termCounts($c, $s)")
  }
  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}

object TermCounts {
  val entry: StructType = StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("tf", IntegerType, nullable = false)))
}

/** `minhash_sig(text)` → array<string> MinHash signature (see TextNative). */
case class MinHashSig(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {
  // 32 hex chars / 4 per slice: at most 8 hash components per digest.
  require(k >= 1, s"minhash_sig: shingle size k must be >= 1, got $k")
  require(numHashes >= 1 && numHashes <= 8,
    s"minhash_sig: numHashes must be in [1, 8], got $numHashes")
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_sig"
  override def nullSafeEval(input: Any): Any =
    TextNative.minHashSig(input.asInstanceOf[UTF8String], k, numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextNative.minHashSig($c, $k, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}
