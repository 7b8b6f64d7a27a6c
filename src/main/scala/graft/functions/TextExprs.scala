package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native tokenizer for the text hot path.
  *
  * Every text/dedup/retrieval operator tokenizes with
  * `regexp_extract_all(lower(text), '[a-z0-9]+')`; java.util.regex
  * over the whole corpus was the single largest scan-time cost of the
  * benchmark (~2.7 s per query at sf0.1, paid by ~10 queries since
  * inter-query cache hygiene drops the token arrays). This expression
  * emits one linear pass over the UTF-8 bytes — lowercasing A-Z and
  * collecting maximal [a-z0-9] runs — inside WholeStageCodegen.
  *
  * Contract vs the regex form: identical for ASCII input (the test
  * corpus and the DuckDB oracles — which keep the regex — stay
  * bit-equal). Non-ASCII bytes are token separators, which matches
  * `[a-z0-9]+` on lowercased text except for the handful of Unicode
  * chars whose lowercase maps INTO ascii (e.g. Kelvin sign → k);
  * those exotic runs would tokenize differently.
  */
object Tokenize {
  def split(s: UTF8String): GenericArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    var i = 0
    while (i < n) {
      var b = bytes(i)
      if (isTok(b)) {
        val start = i
        while (i < n && isTok(bytes(i))) i += 1
        val tok = new Array[Byte](i - start)
        var j = start
        while (j < i) {
          b = bytes(j)
          tok(j - start) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
          j += 1
        }
        out += UTF8String.fromBytes(tok)
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  @inline private def isTok(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || (b >= 'A' && b <= 'Z')

  /** UTF-8-aware twin of `split`: maximal runs of Unicode
    * letters/digits (`[\p{L}\p{N}]+`) over the LOWERCASED input — the
    * tokenizer a multilingual crawl needs, where the byte-wise ASCII
    * form would shred every non-Latin word into separators.
    *
    * Contract: bit-equal to
    * `regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+', 0)` by
    * construction — lowercasing is UTF8String.toLowerCase (the exact
    * kernel SQL `lower()` runs under UTF8_BINARY collation) and the
    * category test is Character.getType, the same classification
    * java.util.regex backs \p{L}/\p{N} with (KernelProps pins the
    * parity law over generated multilingual input). ASCII input takes
    * the byte-wise fast path — identical output, zero String
    * allocation — so an ASCII-heavy corpus pays nothing for the
    * Unicode capability. */
  def splitUnicode(s: UTF8String): GenericArrayData = {
    val lowered = s.toLowerCase
    val bytes = lowered.getBytes
    var ascii = true
    var i = 0
    while (ascii && i < bytes.length) {
      if (bytes(i) < 0) ascii = false
      i += 1
    }
    if (ascii) return split(lowered)
    val str = lowered.toString
    val n = str.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      if (isTokCp(cp)) {
        val start = i
        var j = i
        var c = cp
        while (j < n && isTokCp(c)) {
          j += Character.charCount(c)
          if (j < n) c = str.codePointAt(j)
        }
        out += UTF8String.fromString(str.substring(start, j))
        i = j
      } else i += Character.charCount(cp)
    }
    new GenericArrayData(out.toArray)
  }

  /** \p{L} (all letter categories) or \p{N} (all number categories —
    * Nd, Nl, No), exactly java.util.regex's classification. */
  @inline private def isTokCp(cp: Int): Boolean = {
    val t = Character.getType(cp)
    (t >= Character.UPPERCASE_LETTER && t <= Character.OTHER_LETTER) ||
      t == Character.DECIMAL_DIGIT_NUMBER ||
      t == Character.LETTER_NUMBER || t == Character.OTHER_NUMBER
  }

  /** Token COUNT without materializing the array — the target of the
    * TokenCountRewrite optimizer rule (size(graft_tokens(x)) → this):
    * one byte pass, no per-token allocations, no array header. */
  def count(s: UTF8String): Int = {
    val bytes = s.getBytes
    val n = bytes.length
    var c = 0
    var i = 0
    while (i < n) {
      if (isTok(bytes(i))) {
        c += 1
        while (i < n && isTok(bytes(i))) i += 1
      } else i += 1
    }
    c
  }
}

/** tokens(text): maximal lowercased [a-z0-9] runs, one byte pass. */
case class AsciiTokens(child: Expression) extends UnaryExpression {

  // analysis-time type error for graft_tokens(42) instead of a
  // mid-job ClassCastException (the function is SQL-exposed)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_tokens expects a STRING argument, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  override def nullSafeEval(input: Any): Any =
    Tokenize.split(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Tokenize.split($c);")

  override protected def withNewChildInternal(
      newChild: Expression): AsciiTokens = copy(child = newChild)
}

/** tokens_unicode(text): maximal lowercased Unicode letter/digit
  * runs — see Tokenize.splitUnicode for the exact contract. */
case class UnicodeTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_tokens_unicode expects a STRING argument, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens_unicode"

  override def nullSafeEval(input: Any): Any =
    Tokenize.splitUnicode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Tokenize.splitUnicode($c);")

  override protected def withNewChildInternal(
      newChild: Expression): UnicodeTokens = copy(child = newChild)
}

/** count(tokens(text)) fused into one pass: produced ONLY by the
  * TokenCountRewrite optimizer rule — queries write the declarative
  * size(graft_tokens(x)) and the rule swaps in this allocation-free
  * form, the way Catalyst's own ReplaceExpressions works. */
case class AsciiTokenCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ascii_token_count expects a STRING argument, got ${child.dataType.sql}")

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "ascii_token_count"

  override def nullSafeEval(input: Any): Any =
    Tokenize.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Tokenize.count($c);")

  override protected def withNewChildInternal(
      newChild: Expression): AsciiTokenCount = copy(child = newChild)
}

/** All rolling w-element polynomial window hashes of an array<long>
  * column in ONE compiled pass: out[i] = fold of hs[i..i+w-1] under
  * a·1000003+h mod 2^modBits — bit-identical to the per-window
  * `aggregate(slice(hs, i+1, w), …)` HOF fold (and to the DuckDB
  * oracle's list_reduce), but O(1) per window via the rolling
  * recurrence h' = (h − hs[i]·B^(w−1))·B + hs[i+w] instead of O(w),
  * with no per-window slice allocation and no interpreted lambda
  * dispatch (the HOF form is CodegenFallback; measured ~5 s of
  * dedup_substring's first cut at sf0.1). The modulus is a power of
  * two, so `& mask` is exact and intermediate wrap-around mod 2⁶⁴ is
  * harmless (2^modBits divides 2⁶⁴). Emits n−w+1 hashes; empty when
  * the input is shorter than w. Null elements are REJECTED loudly
  * (an ArrayData null slot reads back as 0, which would silently
  * diverge from the null-propagating HOF fold this claims
  * bit-identity with); producers feed non-null digest arrays. */
case class PolyWindowHashes(child: Expression, w: Int, modBits: Int)
    extends UnaryExpression {
  require(w >= 1, s"window width $w must be >= 1")
  require(modBits >= 1 && modBits <= 62,
    s"modBits $modBits outside [1, 62]")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == ArrayType(org.apache.spark.sql.types.LongType, false) ||
        child.dataType == ArrayType(org.apache.spark.sql.types.LongType, true))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"poly_window_hashes expects ARRAY<BIGINT>, got ${child.dataType.sql}")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "poly_window_hashes"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    new GenericArrayData(PolyWindowHashes.roll(hs, w, modBits))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.PolyWindowHashes.roll($c, $w, $modBits));")

  override protected def withNewChildInternal(
      newChild: Expression): PolyWindowHashes = copy(child = newChild)
}

object PolyWindowHashes {
  final val Base = 1000003L

  /** shared by interpreted eval and generated code */
  def roll(hs: org.apache.spark.sql.catalyst.util.ArrayData,
      w: Int, modBits: Int): Array[Long] = {
    val mask = (1L << modBits) - 1
    val n = hs.numElements()
    var j = 0
    while (j < n) {
      if (hs.isNullAt(j)) throw new IllegalArgumentException(
        s"poly_window_hashes: null element at index $j — window hashes " +
          "over nullable data are undefined; filter or coalesce first")
      j += 1
    }
    val m = n - w + 1
    if (m <= 0) return Array.emptyLongArray
    // B^(w-1) mod 2^modBits
    var pw = 1L
    j = 0
    while (j < w - 1) { pw = (pw * Base) & mask; j += 1 }
    val out = new Array[Long](m)
    var h = 0L
    j = 0
    while (j < w) { h = (h * Base + hs.getLong(j)) & mask; j += 1 }
    out(0) = h
    var i = 1
    while (i < m) {
      h = ((h - hs.getLong(i - 1) * pw) * Base + hs.getLong(i + w - 1)) & mask
      out(i) = h
      i += 1
    }
    out
  }
}

/** Distinct xxhash64 values of the space-joined word n-grams of a
  * token array, in ONE compiled pass — bit-identical to
  * `array_distinct(transform(gramsN(ts, n), g -> xxhash64(g)))` (and
  * to the r15 explode→xxhash64→distinct shape) but with no
  * interpreted HOF lambda in the hot path: `transform` is
  * CodegenFallback, so the r16 in-row form evaluated concat_ws +
  * element_at + xxhash64 per gram on the interpreted expression path
  * (the PolyWindowHashes lesson, VERDICT r16 #1). Here the gram bytes
  * are assembled into one reusable buffer and hashed with the same
  * XXH64(seed=42) kernel the xxhash64 built-in uses, and first-seen
  * order dedup matches array_distinct. Emits n−w+1 hashes before
  * dedup; empty when the input is shorter than n.
  *
  * Input type: ARRAY<STRING> declared containsNull = false (what
  * AsciiTokens emits) — grams over nullable elements are undefined,
  * so a nullable array fails analysis naming hashed_grams instead of
  * failing a task mid-stage. */
case class HashedGrams(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"gram width $n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == ArrayType(StringType, containsNull = false))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "hashed_grams expects ARRAY<STRING> without null elements " +
        s"(tokenize with graft_tokens), got ${child.dataType}")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "hashed_grams"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(HashedGrams.hash(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.HashedGrams.hash($c, $n));")

  override protected def withNewChildInternal(
      newChild: Expression): HashedGrams = copy(child = newChild)
}

object HashedGrams {
  /** shared by interpreted eval and generated code */
  def hash(ts: org.apache.spark.sql.catalyst.util.ArrayData,
      n: Int): Array[Long] = {
    val m = ts.numElements() - n + 1
    if (m <= 0) return Array.emptyLongArray
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    val out = new Array[Long](m)
    var k = 0
    eachGram(ts, n) { (buf, len) =>
      // the exact kernel the xxhash64 built-in applies to STRING input
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
      if (seen.add(h)) { out(k) = h; k += 1 }
    }
    if (k == m) out else java.util.Arrays.copyOf(out, k)
  }

  /** Calls `f(buf, len)` with the bytes of each space-joined n-gram
    * "t[i] t[i+1] ... t[i+n-1]" (concat_ws(" ", ...)) in order; the
    * buffer is reused between calls. */
  private[functions] def eachGram(ts: ArrayData,
      n: Int)(f: (Array[Byte], Int) => Unit): Unit = {
    val cnt = ts.numElements()
    val m = cnt - n + 1
    if (m <= 0) return
    val toks = new Array[UTF8String](cnt)
    var i = 0
    while (i < cnt) { toks(i) = ts.getUTF8String(i); i += 1 }
    var buf = new Array[Byte](64)
    i = 0
    while (i < m) {
      var len = n - 1
      var j = 0
      while (j < n) { len += toks(i + j).numBytes(); j += 1 }
      if (len > buf.length) buf = new Array[Byte](math.max(len, buf.length * 2))
      var pos = 0
      j = 0
      while (j < n) {
        if (j > 0) { buf(pos) = ' '; pos += 1 }
        val t = toks(i + j)
        t.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
        pos += t.numBytes()
        j += 1
      }
      f(buf, len)
      i += 1
    }
  }
}

/** How often the most frequent space-joined word n-gram of a token
  * array occurs, in ONE compiled pass — per doc, bit-identical to
  * `max(c)` over `explode(gramsN(ts, n))` grouped by (doc, gram) and
  * counted, which text_repetition computed with two shuffles per n
  * before. The per-doc gram total, that form's `sum(c)`, is plain
  * `size(ts) - n + 1`. 0 when the input is shorter than n; same input
  * contract as HashedGrams. */
case class MaxGramCount(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"gram width $n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == ArrayType(StringType, containsNull = false))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "max_gram_count expects ARRAY<STRING> without null elements " +
        s"(tokenize with graft_tokens), got ${child.dataType}")

  override def dataType: DataType = LongType
  override def prettyName: String = "max_gram_count"

  override def nullSafeEval(input: Any): Any = MaxGramCount.of(
    input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MaxGramCount.of($c, $n);")

  override protected def withNewChildInternal(
      newChild: Expression): MaxGramCount = copy(child = newChild)
}

object MaxGramCount {
  /** shared by interpreted eval and generated code */
  def of(ts: ArrayData, n: Int): Long = {
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var best = 0L
    HashedGrams.eachGram(ts, n) { (buf, len) =>
      val g = UTF8String.fromBytes(buf, 0, len)
      var c = counts.get(g)
      if (c == null) { c = Array(0L); counts.put(g.copy(), c) }
      c(0) += 1
      if (c(0) > best) best = c(0)
    }
    best
  }
}

/** (matched, score) of a token array against a token -> weight table:
  * the count of tokens the table holds and the sum of their weights,
  * counting repeats — per doc, bit-identical to
  * `explode → left join(broadcast table) → groupBy(count, sum)` with
  * the unmatched sum read as 0, in-row (no shuffle). The table is the
  * ≤512-row NB model, so it rides inside the expression; the sum
  * overflows loudly, as the ANSI `sum` it replaces does. */
case class TokenWeights(child: Expression, weights: Map[String, Long])
    extends UnaryExpression {

  @transient private lazy val table: java.util.HashMap[UTF8String, java.lang.Long] = {
    val t = new java.util.HashMap[UTF8String, java.lang.Long](weights.size * 2)
    weights.foreach { case (k, w) => t.put(UTF8String.fromString(k), w) }
    t
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"token_weights expects ARRAY<STRING>, got $other")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("matched", LongType, nullable = false),
    StructField("score", LongType, nullable = false)))
  override def prettyName: String = "token_weights"
  // the table, not its hundreds of entries, in plan strings
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"${weights.size} weights")

  override def nullSafeEval(input: Any): Any =
    score(input.asInstanceOf[ArrayData])

  /** shared by interpreted eval and generated code */
  def score(ts: ArrayData): InternalRow = {
    var matched = 0L
    var sum = 0L
    var i = 0
    while (i < ts.numElements()) {
      if (!ts.isNullAt(i)) {
        val w = table.get(ts.getUTF8String(i))
        if (w != null) { matched += 1; sum = Math.addExact(sum, w.longValue) }
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](matched, sum))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("tokenWeights", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.score($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): TokenWeights = copy(child = newChild)
}

object TextExprs {
  /** tokens(c) — the codegen'd twin of
    * regexp_extract_all(lower(c), '[a-z0-9]+'). */
  def tokens(c: Column): Column =
    GraftBridge.column(AsciiTokens(GraftBridge.expression(c)))

  /** tokens_unicode(c) — the codegen'd twin of
    * regexp_extract_all(lower(c), '[\\p{L}\\p{N}]+'). */
  def tokensUnicode(c: Column): Column =
    GraftBridge.column(UnicodeTokens(GraftBridge.expression(c)))

  /** All rolling w-window 2^modBits polynomial hashes of an
    * array<long> column (see PolyWindowHashes). */
  def windowHashes(hs: Column, w: Int, modBits: Int): Column =
    GraftBridge.column(
      PolyWindowHashes(GraftBridge.expression(hs), w, modBits))

  /** Space-joined word n-grams from a MATERIALIZED token-array
    * attribute. The single definition of two measured pitfalls: `ts`
    * must be a plain attribute (a HOF lambda re-evaluates its
    * argument expression per element — an inlined tokenizer would
    * re-tokenize per gram), and docs shorter than n need the explicit
    * empty-array guard (sequence(0, size-n) with size < n yields a
    * DESCENDING sequence and out-of-range element_at calls). Shared
    * by the dedup shingles, the repetition metrics, and the bigram
    * LM. */
  def gramsN(ts: org.apache.spark.sql.Column, n: Int): Column = {
    import org.apache.spark.sql.functions._
    val grams = transform(sequence(lit(0), size(ts) - n), i =>
      concat_ws(" ", (1 to n).map(o => element_at(ts, i + o)): _*))
    when(size(ts) >= n, grams).otherwise(array())
  }

  /** Distinct xxhash64 hashes of the word n-grams of a token array —
    * the one-pass compiled twin of
    * `array_distinct(transform(gramsN(ts, n), g -> xxhash64(g)))`
    * (see HashedGrams). */
  def hashedGramsN(ts: org.apache.spark.sql.Column, n: Int): Column =
    GraftBridge.column(HashedGrams(GraftBridge.expression(ts), n))

  /** Occurrences of the most frequent word n-gram of a token array
    * (see MaxGramCount). */
  def maxGramCount(ts: org.apache.spark.sql.Column, n: Int): Column =
    GraftBridge.column(MaxGramCount(GraftBridge.expression(ts), n))

  /** struct(matched, score) of a token array against a token -> weight
    * table (see TokenWeights). */
  def tokenWeights(ts: org.apache.spark.sql.Column,
      weights: Map[String, Long]): Column =
    GraftBridge.column(TokenWeights(GraftBridge.expression(ts), weights))
}
