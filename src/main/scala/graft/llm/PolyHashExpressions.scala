package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd replacements for the hot-path polynomial hashing.
  *
  * The portable hash h(s) = fold((acc * 31 + codepoint) mod P) is also
  * expressible with higher-order SQL functions (and the DuckDB oracles
  * use that formulation), but HOF lambdas are interpreted — no
  * whole-stage codegen, no subexpression elimination — which made
  * shingle hashing the dominant cost of the MinHash/LSH pipeline. A
  * custom `Expression` with `doGenCode` runs the same integer loop as
  * compiled Java inside the stage: identical values, codegen speed.
  *
  * Codepoints are iterated with `String.codePointAt`, matching the SQL
  * `ascii(substring(s, i, 1))` formulation for all BMP and
  * supplementary characters.
  */
object PolyHash {
  val P: Long = HashConstants.P

  /** Shared inner loop: hash of codePoints[from, from+len). */
  def hashRange(cps: Array[Int], from: Int, len: Int): Long = {
    var h = 0L
    var j = 0
    while (j < len) { h = (h * 31 + cps(from + j)) % P; j += 1 }
    h
  }

  def codePoints(s: UTF8String): Array[Int] = {
    val str = s.toString
    val out = new Array[Int](str.codePointCount(0, str.length))
    var i = 0
    var k = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      out(k) = cp
      k += 1
      i += Character.charCount(cp)
    }
    out
  }

  /** All n-gram shingle hashes of a string (whole-string hash when
    * shorter than n) — the native form of
    * `transform(shingles, s -> polyhash(s))`.
    */
  def shingleHashes(s: UTF8String, n: Int): GenericArrayData = {
    val cps = codePoints(s)
    if (cps.length < n)
      return new GenericArrayData(Array(hashRange(cps, 0, cps.length)))
    val m = cps.length - n + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) { out(i) = hashRange(cps, i, n); i += 1 }
    new GenericArrayData(out)
  }

  /** Hash of each whitespace(' ')-separated token — the native form of
    * `transform(split(text, ' '), t -> polyhash(t))`.
    */
  def tokenHashes(s: UTF8String): GenericArrayData = {
    val cps = codePoints(s)
    val out = Array.newBuilder[Long]
    var start = 0
    var i = 0
    while (i <= cps.length) {
      if (i == cps.length || cps(i) == ' ') {
        out += hashRange(cps, start, i - start)
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.result())
  }

  /** Whole-string hash (document fingerprint). */
  def whole(s: UTF8String): Long = {
    val cps = codePoints(s)
    hashRange(cps, 0, cps.length)
  }

  /** Hash of each NON-EMPTY ' '-separated token — the native form of
    * `transform(filter(split(s, ' '), t -> t != ''), t ->
    * polyhash(t))` (the content-token form every corpus-statistics /
    * decontamination / embedding operator shares; lowercasing stays
    * upstream as Spark's native `lower`). Distinct from
    * [[tokenHashes]], which emits hash 0 for empty tokens.
    */
  def tokenHashesNonEmpty(s: UTF8String): GenericArrayData = {
    val cps = codePoints(s)
    val out = Array.newBuilder[Long]
    var start = 0
    var i = 0
    while (i <= cps.length) {
      if (i == cps.length || cps(i) == ' ') {
        if (i > start) out += hashRange(cps, start, i - start)
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.result())
  }
}

object NgramFoldHashes {
  private val P = HashConstants.P

  /** Hash of every n-window of a token-hash array, folding
    * ((acc*31 + h) mod P) left-to-right — the native form of
    * `transform(sequence(1, greatest(size(th) - (n-1), 1)), i ->
    * aggregate(slice(th, i, least(n, size(th))), 0L, (acc, h) ->
    * (acc*31 + h) % P))` including its shorter-than-n whole-array
    * window. The HOF walks O(tokens·n) interpreted-lambda steps with
    * a slice per window; this is the same arithmetic compiled.
    * Products stay < 2^35 (acc < P ≈ 2^30), no overflow.
    */
  def compute(th: org.apache.spark.sql.catalyst.util.ArrayData,
      n: Int): GenericArrayData = {
    val len = th.numElements()
    val m = math.max(len - n + 1, 1)
    val w = math.min(n, len)
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var j = 0
      while (j < w) {
        acc = (acc * 31 + th.getLong(i + j)) % P
        j += 1
      }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** array<bigint> hashes of every n-window of an array<bigint> of
  * token hashes (word n-gram hashes).
  */
case class NgramFoldHashesExpr(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  // SQL-facing (graft_ngram_hashes): type-check at analysis, not a
  // runtime ClassCastException from nullSafeEval/codegen
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    NgramFoldHashes.compute(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.llm.NgramFoldHashes.compute($c, $n)")
  override protected def withNewChildInternal(newChild: Expression)
      : NgramFoldHashesExpr = copy(child = newChild)
}

/** array<bigint> per-non-empty-token hashes (split on ' ', empties
  * dropped).
  */
case class PolyHashTokensNonEmpty(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    PolyHash.tokenHashesNonEmpty(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.llm.PolyHash.tokenHashesNonEmpty($c)")
  override protected def withNewChildInternal(newChild: Expression)
      : PolyHashTokensNonEmpty = copy(child = newChild)
}

object TextClassStats {
  /** One pass over the codepoints computing every class-based count
    * the text-stats operators need. Semantics replicate the SQL/regex
    * formulations exactly:
    *   - nChars      = length(text) (codepoints)
    *   - nTokens     = size(split(trim(text), '\s+'))
    *   - nBpeish     = count of matches of
    *                   [a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]
    *   - nPunct      = length(regexp_replace(text,'[a-zA-Z0-9\s]',''))
    *   - nNonSpace   = length(regexp_replace(text, '\s', ''))
    * where \s is the Java regex class [ \t\n\x0B\f\r].
    */
  def compute(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val cps = PolyHash.codePoints(s.trim())
    val cpsAll = PolyHash.codePoints(s)
    def isSpace(c: Int): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' ||
        c == '\r'
    def isAlpha(c: Int): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    def isDigit(c: Int): Boolean = c >= '0' && c <= '9'
    var nPunct = 0L
    var nNonSpace = 0L
    var nBpeish = 0L
    var i = 0
    var prevClass = -1 // 0 alpha-run, 1 digit-run, 2 other, 3 space
    while (i < cpsAll.length) {
      val c = cpsAll(i)
      val cls =
        if (isAlpha(c)) 0
        else if (isDigit(c)) 1
        else if (isSpace(c)) 3
        else 2
      if (cls == 2) { nPunct += 1; nBpeish += 1 } // singles always match
      else if (cls != 3 && cls != prevClass) nBpeish += 1 // run start
      if (cls != 3) nNonSpace += 1
      prevClass = cls
      i += 1
    }
    // tokens of the TRIMMED text: whitespace runs + 1 (empty -> 1,
    // matching split('', '\s+') = [""] size 1)
    var nTokens = 1L
    var j = 0
    var inSpace = false
    while (j < cps.length) {
      val sp = isSpace(cps(j))
      if (sp && !inSpace) nTokens += 1
      inSpace = sp
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      cpsAll.length.toLong, nTokens, nBpeish, nPunct, nNonSpace)
  }

  val schema: StructType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_bpeish", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false),
    StructField("n_nonspace", LongType, nullable = false)))
}

/** struct of character-class counts of a string column — a single
  * native pass replacing three regex scans + a split in the text-stats
  * operator.
  */
case class TextClassStatsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = TextClassStats.schema
  override protected def nullSafeEval(input: Any): Any =
    TextClassStats.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.llm.TextClassStats.compute($c)")
  override protected def withNewChildInternal(newChild: Expression)
      : TextClassStatsExpr = copy(child = newChild)
}

/** array<bigint> of n-gram shingle hashes of a string column. */
case class PolyHashShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    PolyHash.shingleHashes(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.llm.PolyHash.shingleHashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression)
      : PolyHashShingles = copy(child = newChild)
}

/** array<bigint> of per-token hashes (split on ' '). */
case class PolyHashTokens(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    PolyHash.tokenHashes(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.llm.PolyHash.tokenHashes($c)")
  override protected def withNewChildInternal(newChild: Expression)
      : PolyHashTokens = copy(child = newChild)
}

object MinHashSig {
  private val A = HashConstants.minhashA.toArray
  private val B = HashConstants.minhashB.toArray
  private val P = HashConstants.P

  /** All K=16 signature minima in ONE pass over the shingle hashes —
    * the native form of K separate
    * `array_min(transform(h, x -> (a*x + b) % P))` passes (HOF lambdas
    * are interpreted; K passes re-walk the hash array K times).
    * Products stay < 2^62 (a < 2^31, h < P ≈ 2^30) — no ANSI overflow.
    * Input arrays are never empty (shingle hashing emits the
    * whole-string hash for short texts).
    */
  def compute(hashes: org.apache.spark.sql.catalyst.util.ArrayData)
      : GenericArrayData = {
    val k = A.length
    val out = Array.fill(k)(Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < k) {
        val v = (A(j) * h + B(j)) % P
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** array<bigint> K-wide MinHash signature of an array<bigint> of
  * shingle hashes.
  */
case class MinHashSigExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.llm.MinHashSig.compute($c)")
  override protected def withNewChildInternal(newChild: Expression)
      : MinHashSigExpr = copy(child = newChild)
}

object SimHashPack {
  private val bits = HashConstants.simhashBits

  /** All `simhashBits` bit votes in ONE pass over the token hashes —
    * native form of per-bit `aggregate(h, 0L, (a, x) ->
    * a + ((x div 2^j) % 2) * 2 - 1) > 0` (which re-walks the token
    * array once per bit). Hashes are in [0, P) so `(h >> j) & 1`
    * equals the SQL `(h div 2^j) % 2`.
    */
  def compute(hashes: org.apache.spark.sql.catalyst.util.ArrayData)
      : Long = {
    val counts = new Array[Long](bits)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < bits) {
        counts(j) += ((h >> j) & 1L) * 2 - 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < bits) { if (counts(j) > 0) out |= 1L << j; j += 1 }
    out
  }
}

/** bigint packed SimHash of an array<bigint> of token hashes. */
case class SimHashPackExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    SimHashPack.compute(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.llm.SimHashPack.compute($c)")
  override protected def withNewChildInternal(newChild: Expression)
      : SimHashPackExpr = copy(child = newChild)
}

object FeatureHashCounts {
  /** Bucketed counts of an array<bigint> of token hashes in ONE pass
    * — the native form of `transform(sequence(0, dim-1), b ->
    * size(filter(th, h -> h % dim = b)))`, which walks the token
    * array dim times through interpreted lambdas (measured 15 s at
    * sf0.1 for dim=32; this pass: sub-second). `floorMod` keeps the
    * bucket in [0, dim) even for negative hashes — the expression is
    * registered as a general SQL function (`graft_feature_hash`), so
    * callers may feed arbitrary bigints, not just [0, P) poly-hashes.
    */
  def compute(hashes: org.apache.spark.sql.catalyst.util.ArrayData,
      dim: Int): GenericArrayData = {
    require(dim > 0, s"graft_feature_hash: dim must be > 0, got $dim")
    val out = new Array[Double](dim)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      out(java.lang.Math.floorMod(hashes.getLong(i), dim.toLong).toInt) += 1.0
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** array<double> bucketed counts of an array<bigint> of hashes. */
case class FeatureHashCountsExpr(child: Expression, dim: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    FeatureHashCounts.compute(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      dim)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.llm.FeatureHashCounts.compute($c, $dim)")
  override protected def withNewChildInternal(newChild: Expression)
      : FeatureHashCountsExpr = copy(child = newChild)
}

object WinnowMins {
  /** Sorted distinct sliding-window minima of a hash array in one
    * pass — the native form of
    * `array_sort(array_distinct(transform(sequence(1, greatest(n-w+1,
    * 1)), i -> array_min(slice(hs, i, least(w, n))))))` (one window
    * over the whole array when n < w, exactly like the HOF). The HOF
    * walks O(n·w) interpreted-lambda steps and allocates a slice per
    * position — it alone cost ~28 s at sf0.1 as the upstream of the
    * winnow posting list; the monotonic-deque form is O(n) compiled
    * code. Ties pop `>=` from the deque back, which keeps the latest
    * index of an equal minimum — the VALUE (all that is emitted) is
    * identical either way.
    */
  def compute(hashes: org.apache.spark.sql.catalyst.util.ArrayData,
      w: Int): GenericArrayData = {
    val n = hashes.numElements()
    // Empty in -> empty out: shingleHashes never produces an empty
    // array, but graft_winnow_mins is SQL-facing and may receive any
    // array<bigint>; fabricating a 0L fingerprint for no input would
    // collide every empty document into one winnow bucket.
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val m = math.max(n - w + 1, 1)
    val mins = new Array[Long](m)
    if (n <= w) {
      var mn = Long.MaxValue
      var i = 0
      while (i < n) {
        val h = hashes.getLong(i); if (h < mn) mn = h; i += 1
      }
      mins(0) = mn
    } else {
      val dq = new Array[Int](n)
      var head = 0
      var tail = 0 // live indices in dq[head, tail), values increasing
      var i = 0
      while (i < n) {
        val h = hashes.getLong(i)
        while (tail > head && hashes.getLong(dq(tail - 1)) >= h)
          tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) mins(i - w + 1) = hashes.getLong(dq(head))
        i += 1
      }
    }
    java.util.Arrays.sort(mins)
    var k = 0
    var i = 1
    while (i < m) {
      if (mins(i) != mins(k)) { k += 1; mins(k) = mins(i) }
      i += 1
    }
    val out = new Array[Long](k + 1)
    System.arraycopy(mins, 0, out, 0, k + 1)
    new GenericArrayData(out)
  }
}

/** array<bigint> sorted distinct sliding-window-w minima of an
  * array<bigint> of shingle hashes (the winnowing fingerprint set).
  */
case class WinnowMinsExpr(child: Expression, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    WinnowMins.compute(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.llm.WinnowMins.compute($c, $w)")
  override protected def withNewChildInternal(newChild: Expression)
      : WinnowMinsExpr = copy(child = newChild)
}

/** bigint whole-string polynomial hash (fingerprint). */
case class PolyHashString(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    PolyHash.whole(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.llm.PolyHash.whole($c)")
  override protected def withNewChildInternal(newChild: Expression)
      : PolyHashString = copy(child = newChild)
}

object BpeFold {
  /** The BPE merge fold — for each rule (a, b) in order, the
    * doubled-delimiter triple-replace on the space-delimited symbol
    * string: `replace(replace(replace(s, " ", "  "), " a  b ",
    * " ab "), "  ", " ")`. Literal, non-overlapping, left-to-right
    * replacement in every engine (Java String.replace, Spark
    * StringReplace, DuckDB replace), so this loop is string-identical
    * to the SQL HOF fold the oracles replay, but compiled (the HOF
    * walks an interpreted lambda per merge). The executor expression
    * ([[compute]]) and the driver-side BPE fit both run it.
    */
  def fold(repr: String, ms: Seq[(String, String)]): String =
    ms.foldLeft(repr) { case (s, (a, b)) =>
      s.replace(" ", "  ")
        .replace(" " + a + "  " + b + " ", " " + a + b + " ")
        .replace("  ", " ")
    }

  /** [[fold]] over an array<struct<a:string,b:string>> of rules. */
  def compute(repr: UTF8String,
      ms: org.apache.spark.sql.catalyst.util.ArrayData): UTF8String =
    UTF8String.fromString(fold(repr.toString,
      Seq.tabulate(ms.numElements()) { i =>
        val m = ms.getStruct(i, 2)
        (m.getUTF8String(0).toString, m.getUTF8String(1).toString)
      }))
}

/** string BPE merge fold of a space-delimited symbol string over an
  * array<struct<a:string,b:string>> of ordered merge rules.
  */
case class BpeFoldExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType,
    ArrayType(StructType(Seq(StructField("a", StringType),
      StructField("b", StringType)))))
  override def dataType: DataType = StringType
  override protected def nullSafeEval(repr: Any, ms: Any): Any =
    BpeFold.compute(repr.asInstanceOf[UTF8String],
      ms.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (r, m) => s"graft.llm.BpeFold.compute($r, $m)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): BpeFoldExpr =
    copy(left = newLeft, right = newRight)
}

object PolyHashColumns {
  import org.apache.spark.sql.graftglue.ColumnBridge.{column, expression}
  def shingleHashes(c: Column, n: Int = HashConstants.shingleSize): Column =
    column(PolyHashShingles(expression(c), n))
  def tokenHashes(c: Column): Column =
    column(PolyHashTokens(expression(c)))
  def fingerprint(c: Column): Column =
    column(PolyHashString(expression(c)))
  def minhashSig(c: Column): Column =
    column(MinHashSigExpr(expression(c)))
  def simhashPack(c: Column): Column =
    column(SimHashPackExpr(expression(c)))
  def textClassStats(c: Column): Column =
    column(TextClassStatsExpr(expression(c)))
  def featureHashCounts(c: Column, dim: Int): Column =
    column(FeatureHashCountsExpr(expression(c), dim))
  def winnowMins(c: Column, w: Int): Column =
    column(WinnowMinsExpr(expression(c), w))
  def tokenHashesNonEmpty(c: Column): Column =
    column(PolyHashTokensNonEmpty(expression(c)))
  def ngramFoldHashes(c: Column, n: Int): Column =
    column(NgramFoldHashesExpr(expression(c), n))
  def bpeFold(repr: Column, ms: Column): Column =
    column(BpeFoldExpr(expression(repr), expression(ms)))
}
