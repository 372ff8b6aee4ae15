package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType, StringType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop kernels shared by the interpreted and generated paths of
  * the native expressions, so the two can never drift. */
object GraftHash {
  final val Mod = 1000000007L

  /** Codepoint-wise polynomial rolling hash: h = (h*31 + cp) mod 1e9+7. */
  def rollingHash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }

  /** Token count for space-separated text: spaces + 1 — EXACTLY
    * `size(split(text, ' '))` for any string (Java split with -1 limit
    * keeps empty pieces, so k space bytes always yield k+1 pieces;
    * "" splits to [""] = 1 = 0+1). Byte scan is UTF-8-safe: 0x20 never
    * occurs in continuation bytes. */
  def tokenCount(s: UTF8String): Long = {
    var c = 1L
    var i = 0
    val n = s.numBytes
    while (i < n) {
      if (s.getByte(i) == 0x20) c += 1
      i += 1
    }
    c
  }

  /** Count space-separated tokens byte-equal to any of `stops` —
    * `size(filter(split(text,' '), t -> t IN stops))` with multiplicity,
    * zero allocation (candidate tokens are compared in place against
    * the stopword byte arrays; no token array, no per-token object). */
  def countTokensIn(s: UTF8String, stops: Array[Array[Byte]]): Long = {
    val n = s.numBytes
    var c = 0L
    var st = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.getByte(i) == 0x20) {
        val len = i - st
        var k = 0
        var hit = false
        while (!hit && k < stops.length) {
          val w = stops(k)
          if (w.length == len) {
            var j = 0
            while (j < len && s.getByte(st + j) == w(j)) j += 1
            hit = j == len
          }
          k += 1
        }
        if (hit) c += 1
        st = i + 1
      }
      i += 1
    }
    c
  }

  /** k-token shingle array for single-space-separated text. Because
    * tokens are the split on single spaces, the k-token shingle joined
    * by ' ' is EXACTLY the byte span of the text from token i's start
    * to token i+k-1's end — including empty tokens from repeated
    * spaces. One byte copy for the whole row; each shingle is a
    * zero-copy UTF8String window into it. Docs with fewer than k
    * tokens yield an empty array. */
  /** Token boundary scan shared by `shingles` and `chunks`: one pass
    * returning (bytes, starts, ends) with starts(t)/ends(t) the byte
    * span of token t. NOTE: `UTF8String.getBytes` returns the SHARED
    * underlying array when the string exactly spans it (a copy only
    * otherwise), so the zero-copy windows built over `bytes` may alias
    * the input buffer. That is sound today because UTF8String inputs
    * are immutable for the life of the row — but any future change
    * that reuses input buffers must force a copy here. */
  private def tokenBounds(s: UTF8String): (Array[Byte], Array[Int], Array[Int]) = {
    val n = s.numBytes
    var ntok = 1
    var i = 0
    while (i < n) { if (s.getByte(i) == 0x20) ntok += 1; i += 1 }
    val bytes = s.getBytes
    val starts = new Array[Int](ntok)
    val ends = new Array[Int](ntok)
    var t = 0
    starts(0) = 0
    i = 0
    while (i < n) {
      if (bytes(i) == 0x20) { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = n
    (bytes, starts, ends)
  }

  def shingles(s: UTF8String, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val (bytes, starts, ends) = tokenBounds(s)
    val m = starts.length - k + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val st = starts(j)
      out(j) = UTF8String.fromBytes(bytes, st, ends(j + k - 1) - st)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Overlapping token-window chunks: windows of `size` tokens at
    * `stride` steps (stride < size => overlap), the last window
    * clamped to the text end; every token belongs to >= 1 chunk and
    * chunk count = 1 + ceil(max(ntok-size,0)/stride). Byte-span
    * construction like `shingles`. */
  def chunks(s: UTF8String, size: Int, stride: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val (bytes, starts, ends) = tokenBounds(s)
    val ntok = starts.length
    val m = 1 + (math.max(ntok - size, 0) + stride - 1) / stride
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val stTok = j * stride
      val enTok = math.min(stTok + size, ntok) - 1
      val st = starts(stTok)
      out(j) = UTF8String.fromBytes(bytes, st, ends(enTok) - st)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Max multiplicity among the k-token shingles of `s` — the
    * most-repeated-bigram count (d16) without materializing, sorting,
    * or shuffling a shingle array. Open-addressing hash table over the
    * shingle byte spans with FULL byte equality on probe (hash only
    * routes; it never decides equality), so the count is exact for all
    * inputs. One pass, two small int arrays, no per-shingle object
    * allocation. Returns 0 when the doc has fewer than k tokens
    * (shingle count m = ntok - k + 1 <= 0). */
  def topShingleCount(s: UTF8String, k: Int): Long = {
    val (bytes, starts, ends) = tokenBounds(s)
    val m = starts.length - k + 1
    if (m <= 0) return 0L
    // table sizing in Long: `cap < m * 2` in Int wraps negative past
    // 2^30 shingles and the probe loop below would spin on a too-small
    // table — a hang, not an error. >2^29 shingles means a ~1 GB+
    // single-doc text; fail loudly instead (the 3 int arrays alone
    // would be 12 GB).
    require(m <= (1 << 29), s"document has $m shingles (> 2^29); " +
      "single-row hash table would exceed memory — chunk the document first")
    var cap = 4
    while (cap.toLong < m.toLong * 2L) cap <<= 1 // load factor <= 0.5
    val slotStart = new Array[Int](cap)
    val slotLen = new Array[Int](cap)
    val slotCnt = new Array[Int](cap)
    java.util.Arrays.fill(slotStart, -1)
    val mask = cap - 1
    var best = 0
    var j = 0
    while (j < m) {
      val st = starts(j)
      val len = ends(j + k - 1) - st
      var h = 0x811c9dc5 // FNV-1a over the span bytes
      var i = st
      while (i < st + len) { h = (h ^ (bytes(i) & 0xff)) * 0x01000193; i += 1 }
      var slot = h & mask
      var placed = false
      while (!placed) {
        if (slotStart(slot) == -1) {
          slotStart(slot) = st; slotLen(slot) = len; slotCnt(slot) = 1
          if (best == 0) best = 1
          placed = true
        } else if (slotLen(slot) == len && {
          var a = slotStart(slot); var b = st; var eq = true
          val lim = a + len
          while (eq && a < lim) {
            if (bytes(a) != bytes(b)) eq = false; a += 1; b += 1
          }
          eq
        }) {
          slotCnt(slot) += 1
          if (slotCnt(slot) > best) best = slotCnt(slot)
          placed = true
        } else slot = (slot + 1) & mask
      }
      j += 1
    }
    best.toLong
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Distinct winnowing fingerprints (MOSS selection) of `s`: hash
    * every k-token gram, slide a w-hash window, keep each window's
    * minimum, dedup. Hash = first 4 md5 bytes of the gram's byte span
    * as an unsigned 32-bit value — EXACTLY
    * `conv(substring(md5(gram),1,8),16,10)` (the mirrored form), with
    * no hex-string round trip. One byte scan + a monotonic-deque
    * sliding minimum (O(grams), not O(grams·w) slice allocations) + an
    * open-addressing distinct set; MessageDigest is thread-local.
    * Fewer than w hashes → one whole-doc window; fewer than k tokens →
    * empty. */
  def winnow(s: UTF8String, k: Int, w: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val (bytes, starts, ends) = tokenBounds(s)
    val m = starts.length - k + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val md = md5Local.get()
    val h = new Array[Long](m)
    var j = 0
    while (j < m) {
      md.reset()
      md.update(bytes, starts(j), ends(j + k - 1) - starts(j))
      val d = md.digest()
      h(j) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      j += 1
    }
    val wlen = math.min(w, m) // short docs: one window over all hashes
    val nWin = m - wlen + 1
    val deque = new Array[Int](m)
    var dh = 0
    var dt = 0
    val mins = new Array[Long](nWin)
    var i = 0
    while (i < m) {
      while (dt > dh && h(deque(dt - 1)) >= h(i)) dt -= 1
      deque(dt) = i; dt += 1
      if (deque(dh) <= i - wlen) dh += 1
      if (i >= wlen - 1) mins(i - (wlen - 1)) = h(deque(dh))
      i += 1
    }
    // distinct via open addressing; hashes are < 2^32 so -1 is free as
    // the empty sentinel. Long-math sizing + loud bound, as in
    // topShingleCount: Int `cap < nWin * 2` wraps past 2^30 windows and
    // the probe loop would spin forever on a wrapped table.
    require(nWin <= (1 << 29), s"document has $nWin winnow windows (> 2^29); " +
      "single-row hash table would exceed memory — chunk the document first")
    var cap = 4
    while (cap.toLong < nWin.toLong * 2L) cap <<= 1
    val slots = new Array[Long](cap)
    java.util.Arrays.fill(slots, -1L)
    val mask = cap - 1
    val out = new Array[Any](nWin)
    var nOut = 0
    i = 0
    while (i < nWin) {
      val v = mins(i)
      var slot = (v ^ (v >>> 16)).toInt & mask
      var done = false
      while (!done) {
        if (slots(slot) == -1L) {
          slots(slot) = v; out(nOut) = v; nOut += 1; done = true
        } else if (slots(slot) == v) done = true
        else slot = (slot + 1) & mask
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], nOut))
  }

  /** Exact scaled-integer dot product over float arrays:
    * Σ round_half_away(a_i * b_i * 1e12) — the engine-exact cosine
    * building block (see graft.operators.Similarity). Arrays must be
    * null-element-free; trailing elements beyond the shorter length are
    * ignored. */
  def dotE12(a: org.apache.spark.sql.catalyst.util.ArrayData,
             b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val v = a.getFloat(i).toDouble * b.getFloat(i).toDouble * 1.0e12
      s += (if (v >= 0) (v + 0.5).toLong else (v - 0.5).toLong)
      i += 1
    }
    s
  }
}

/** Native Catalyst expression for the Karp-Rabin document fingerprint
  * (SURVEY.md §7.3's "custom Expression" slot).
  *
  * Why native instead of the declarative
  * `aggregate(transform(split(text,'')...)` chain
  * (graft.operators.TextAnalysis.rollingHash): the declarative form
  * materializes a per-character string array per row — at 100 TB of
  * documents that is an array allocation + per-element lambda eval per
  * character. This expression walks the UTF8String's codepoints in one
  * tight loop and participates in whole-stage codegen via a static
  * call, so a corpus-wide fingerprint pass stays allocation-free.
  * Semantics are identical (same mod-1e9+7 fold over codepoints; ASCII
  * codepoint == `ascii()` value), pinned by the d09 DuckDB oracle and
  * an equivalence spec.
  */
case class RollingHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_rolling_hash expects STRING, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.rollingHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftHash.rollingHash($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHashExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_rolling_hash"
}

/** Native codegen dot-product for similarity search (SURVEY.md §7.3).
  *
  * Why native: Spark's higher-order functions (`zip_with`/`aggregate`)
  * are interpreted — per-element lambda dispatch with boxing. An
  * all-pairs near-dup pass over N vectors evaluates N²/2 × dims
  * lambdas; measured at sf0.1 that made the cosine near-dup query
  * ~100× slower than this fused loop, which runs inside whole-stage
  * codegen via a static call. Rounding is half-away-from-zero, matching
  * Spark's `round(_, 0)` and DuckDB's `ROUND` on non-boundary values.
  * Both inputs must be ARRAY<FLOAT> (cast at the call site).
  */
case class DotE12Expr(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val bothFloatArrays = Seq(left, right).forall(c => c.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    })
    if (bothFloatArrays)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot_e12 expects ARRAY<FLOAT> args, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftHash.dotE12(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.GraftHash.dotE12($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotE12Expr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot_e12"
}

/** Native codegen token counter (SURVEY.md §7.3).
  *
  * Why native: the declarative `size(split(text, ' '))` materializes a
  * per-row string ARRAY just to read its length — one allocation plus
  * one substring copy PER TOKEN, for every row of a 100 TB corpus, in
  * d01/d02/d03/d14/d15/d24's hot paths. This walks the UTF8String's
  * bytes once (spaces+1; 0x20 cannot occur inside a UTF-8 multi-byte
  * sequence) with zero allocation, inside whole-stage codegen.
  * Equivalence with size(split) for ALL inputs — including empty
  * strings and repeated/leading/trailing spaces — is pinned by
  * RollingHashExprSpec. */
case class TokenCountExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_token_count expects STRING, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.tokenCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftHash.tokenCount($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenCountExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_token_count"
}

/** Native codegen stopword counter (SURVEY.md §7.3).
  *
  * Why native: `filter(split(text,' '), t -> t.isin(stops))` is an
  * interpreted higher-order function — per-token lambda dispatch that
  * BREAKS the whole-stage-codegen span of every quality/lang-ID pass
  * (d03/d04, the d12 gates). This compares candidate tokens in place
  * against the stopword byte arrays inside codegen, allocation-free.
  * Equivalence (with multiplicity, all edge shapes) pinned by
  * RollingHashExprSpec. */
case class StopwordCountExpr(child: Expression, stops: Seq[String])
  extends UnaryExpression {
  @transient private lazy val stopBytes: Array[Array[Byte]] =
    stops.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_stopword_count expects STRING, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.countTokensIn(input.asInstanceOf[UTF8String], stopBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopBytes", stopBytes, "byte[][]")
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftHash.countTokensIn($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): StopwordCountExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_stopword_count"
}

/** Native codegen k-token shingle generator (SURVEY.md §7.3).
  *
  * Why native: the declarative
  * `transform(sequence(...), i -> concat_ws(' ', element_at(toks,i)...))`
  * is an interpreted HOF — per-shingle lambda dispatch, k element_at
  * probes, and a concat allocation per shingle, in the hottest path of
  * the whole dedup family (d06/d07/d12/d13/d17 all start here). The
  * native form makes one byte copy per row and returns zero-copy
  * windows into it. Equivalence for all inputs (incl. repeated spaces
  * and short docs) pinned by RollingHashExprSpec. */
case class ShinglesExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"k must be >= 1, got $k")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_shingles expects STRING, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.shingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftHash.shingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_shingles"
}

/** Native codegen token-window chunker — the RAG / context-packing
  * "split documents into overlapping windows" step, built on the same
  * byte-span trick as ShinglesExpr (stride generalization). */
case class ChunksExpr(child: Expression, size: Int, stride: Int)
  extends UnaryExpression {
  require(size >= 1 && stride >= 1 && stride <= size,
    s"need 1 <= stride <= size, got size=$size stride=$stride")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_chunks expects STRING, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.chunks(input.asInstanceOf[UTF8String], size, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftHash.chunks($c, $size, $stride)")

  override protected def withNewChildInternal(newChild: Expression): ChunksExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_chunks"
}

/** Native codegen top-shingle multiplicity (d16's most-repeated-bigram
  * count).
  *
  * Why native: the declarative form sorts the per-row shingle array
  * and folds an interpreted `aggregate` lambda over it — a struct
  * allocation per element and an O(n log n) sort per row, which at the
  * sf10 decade showed up as GC-bound superlinear growth. This is one
  * byte scan with an open-addressing span table: O(n) per row, zero
  * per-shingle allocation, inside whole-stage codegen. Equivalence
  * with the sorted-max-run form pinned on random strings in
  * NativeKernelPropertySpec. */
case class TopShingleCountExpr(child: Expression, k: Int)
  extends UnaryExpression {
  require(k >= 1, s"k must be >= 1, got $k")
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_top_shingle_count expects STRING, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.topShingleCount(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftHash.topShingleCount($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): TopShingleCountExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_top_shingle_count"
}

/** Native codegen winnowing fingerprints (MOSS selection, d17/d25).
  *
  * Why native: the declarative chain hashed each k-gram through
  * md5 → hex substring → conv (three interpreted per-element string
  * round trips) and took window minima via per-window slice()
  * allocations — the GC-bound hot path of the contamination index.
  * This is one scan with a thread-local MessageDigest, a
  * monotonic-deque sliding minimum, and an open-addressing distinct
  * set. Equivalence with the declarative form pinned on random
  * strings in PropertySpec; hash identity (= the mirrored SQL) is
  * part of that equality. */
case class WinnowExpr(child: Expression, k: Int, w: Int)
  extends UnaryExpression {
  require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got k=$k w=$w")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_winnow expects STRING, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.winnow(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftHash.winnow($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_winnow"
}

/** Session extensions: registers engine-native SQL functions.
  * `withExtensions(new GraftExtensions)` on a session builder, or
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
/** Shared SQL-surface builders: extract foldable INT literals for the
  * parameterized expressions so `graft_shingles(text, 3)` etc. work
  * from SQL, failing at analysis time (not runtime) on non-literals. */
private[plans] object GraftBuilders {
  def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an INT literal, got ${other.sql}")
  }
  def stopwordCount(exprs: Seq[Expression]): StopwordCountExpr =
    StopwordCountExpr(exprs.head,
      graft.operators.TextAnalysis.DefaultStopwords)
  def shingles(exprs: Seq[Expression]): ShinglesExpr =
    ShinglesExpr(exprs.head, litInt(exprs(1), "graft_shingles", "k"))
  def chunks(exprs: Seq[Expression]): ChunksExpr =
    ChunksExpr(exprs.head, litInt(exprs(1), "graft_chunks", "size"),
      litInt(exprs(2), "graft_chunks", "stride"))
  def topShingleCount(exprs: Seq[Expression]): TopShingleCountExpr =
    TopShingleCountExpr(exprs.head,
      litInt(exprs(1), "graft_top_shingle_count", "k"))
  def winnow(exprs: Seq[Expression]): WinnowExpr =
    WinnowExpr(exprs.head, litInt(exprs(1), "graft_winnow", "k"),
      litInt(exprs(2), "graft_winnow", "w"))
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("graft_rolling_hash"),
      new ExpressionInfo(classOf[RollingHashExpr].getName, "graft_rolling_hash"),
      (exprs: Seq[Expression]) => RollingHashExpr(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("graft_dot_e12"),
      new ExpressionInfo(classOf[DotE12Expr].getName, "graft_dot_e12"),
      (exprs: Seq[Expression]) => DotE12Expr(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_token_count"),
      new ExpressionInfo(classOf[TokenCountExpr].getName, "graft_token_count"),
      (exprs: Seq[Expression]) => TokenCountExpr(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("graft_stopword_count"),
      new ExpressionInfo(classOf[StopwordCountExpr].getName, "graft_stopword_count"),
      (exprs: Seq[Expression]) => GraftBuilders.stopwordCount(exprs)))
    e.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShinglesExpr].getName, "graft_shingles"),
      (exprs: Seq[Expression]) => GraftBuilders.shingles(exprs)))
    e.injectFunction((
      new FunctionIdentifier("graft_chunks"),
      new ExpressionInfo(classOf[ChunksExpr].getName, "graft_chunks"),
      (exprs: Seq[Expression]) => GraftBuilders.chunks(exprs)))
    e.injectFunction((
      new FunctionIdentifier("graft_top_shingle_count"),
      new ExpressionInfo(classOf[TopShingleCountExpr].getName, "graft_top_shingle_count"),
      (exprs: Seq[Expression]) => GraftBuilders.topShingleCount(exprs)))
    e.injectFunction((
      new FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[WinnowExpr].getName, "graft_winnow"),
      (exprs: Seq[Expression]) => GraftBuilders.winnow(exprs)))
  }
}

/** Per-session registration fallback for sessions built without
  * extensions (e.g. the driver's own Verify session). Idempotent. */
object GraftFunctions {
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_rolling_hash", exprs => RollingHashExpr(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot_e12", exprs => DotE12Expr(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_token_count", exprs => TokenCountExpr(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_stopword_count", exprs => GraftBuilders.stopwordCount(exprs), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_shingles", exprs => GraftBuilders.shingles(exprs), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_chunks", exprs => GraftBuilders.chunks(exprs), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_top_shingle_count", exprs => GraftBuilders.topShingleCount(exprs), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_winnow", exprs => GraftBuilders.winnow(exprs), "built-in")
  }
}
