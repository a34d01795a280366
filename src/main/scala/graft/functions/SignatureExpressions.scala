package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native signature kernels for the dedup pipeline — the codegen'd fast
  * paths of `TextFunctions.simhashFromHashes` / `minhashFromHashes`.
  * The composed versions are higher-order built-ins whose lambdas
  * Catalyst interprets per element: SimHash walks the hash array 32
  * times (one `filter` per bit), MinHash k=12 times (one `transform`
  * + `array_min` per seed) — ~130 interpreted passes per document.
  * These expressions make ONE pass in tight Java.
  *
  * Exact-parity contract with the composed forms (all-integer math, so
  * no fp-order subtleties — the DuckDB oracle mirrors the same
  * arithmetic):
  *  - SimHash bit test is `(h / 2^b) % 2 == 1` with Java truncating
  *    division — identical to the composed `(h / bit) % 2 === 1` for
  *    negative inputs too; NULL elements fail the test but still count
  *    in `n` (`size`); a NULL array yields 0L (the composed fold adds
  *    `when(null, …).otherwise(0)` 32 times).
  *  - MinHash element s is `min((2s+1)·h + s·B) mod M` skipping NULLs;
  *    an empty/all-NULL input gives NULL elements; a NULL array gives
  *    an array of k NULLs (the composed `array(array_min(transform(
  *    null)))…` is an array OF nulls, never a null array) — hence
  *    `nullable = false` on both.
  */
case class SimHash32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_simhash32"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash32 expects array<bigint>, got ${other.sql}")
  }

  override def eval(input: InternalRow): Any = {
    val arr = child.eval(input)
    if (arr == null) return 0L
    SignatureKernels.simhash32(arr.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        long ${ev.value} = 0L;
        if (!${c.isNull}) {
          ${ev.value} = graft.functions.SignatureKernels.simhash32(${c.value});
        }
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
}

case class MinHashAffine(child: Expression, k: Int) extends UnaryExpression {

  require(k > 0, "minhash signature length must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects array<bigint>, got ${other.sql}")
  }

  override def eval(input: InternalRow): Any = {
    val arr = child.eval(input)
    if (arr == null) new GenericArrayData(new Array[Any](k))
    else SignatureKernels.minhashAffine(arr.asInstanceOf[ArrayData], k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value};
        if (${c.isNull}) {
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[$k]);
        } else {
          ${ev.value} = graft.functions.SignatureKernels.minhashAffine(${c.value}, $k);
        }
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashAffine =
    copy(child = newChild)
}

/** Distinct word n-gram shingles in ONE pass — the native fast path of
  * `TextFunctions.shingles` (r15). The composed form is
  * `array_distinct(transform(sequence(0, size-n), i -> concat(t[i], ' ',
  * …)))`: the transform lambda is interpreted per window (n array gets +
  * a concat each), the sequence materializes an index array per doc, and
  * array_distinct re-walks the result — the signature pass runs this for
  * EVERY document of every batch, making it the tokenize→shingle→minhash
  * pipeline's widest interpreted span. This kernel slides one window,
  * joins with one `UTF8String.concatWs`, and dedups order-preserving in
  * the same pass.
  *
  * Parity with the composed form (asserted in SignatureExpressionsSpec):
  * output order is first-occurrence (array_distinct's rule) over windows
  * in position order; a NULL token nullifies its shingle (`concat`'s
  * NULL propagation), deduped to one NULL like array_distinct; a doc
  * shorter than n (or a NULL token array — `size(NULL) >= n` is NULL →
  * `otherwise`) yields the EMPTY array, so `nullable = false`.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "shingle width must be positive")

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingles expects array<string>, got ${other.sql}")
  }

  override def eval(input: InternalRow): Any = {
    val arr = child.eval(input)
    if (arr == null) new GenericArrayData(Array.empty[Any])
    else SignatureKernels.wordShingles(arr.asInstanceOf[ArrayData], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value};
        if (${c.isNull}) {
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[0]);
        } else {
          ${ev.value} = graft.functions.SignatureKernels.wordShingles(${c.value}, $n);
        }
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Gopher repetition-filter statistics in ONE pass (r15) — the native
  * fast path of the q80 body's bigram fold: build the bigram list, sort
  * it, and run the sorted-runs maximum, all in tight Java instead of an
  * interpreted `transform` lambda per bigram plus an `aggregate` fold
  * that allocates a 4-field named_struct per element. The repetition
  * filter is a full-corpus map pass in every curation pipeline, so its
  * per-row constant is a corpus-scan constant.
  *
  * Output struct (n_bg, c, g): bigram count, the highest run length of
  * the ASCENDING-sorted bigrams, and its gram. Parity with the composed
  * fold (asserted in SignatureExpressionsSpec): strict `>` keeps the
  * lexicographically smallest gram on ties (sorted ascending + strict
  * update = the relational `ORDER BY c DESC, g` verdict); a NULL token
  * nullifies its bigrams (`concat`), NULLs sort FIRST (sort_array asc)
  * and never equal anything (`x = prev` is NULL → run restarts at 1);
  * fewer than 2 tokens (or a NULL token array — `size(NULL) >= 2` is
  * NULL → ELSE) yields (0, 0, ''), the fold's init.
  */
case class BigramRunTop(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_bg", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("c", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("g",
      org.apache.spark.sql.types.StringType, nullable = true)))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bigram_top"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bigram_top expects array<string>, got ${other.sql}")
  }

  override def eval(input: InternalRow): Any = {
    val arr = child.eval(input)
    if (arr == null) SignatureKernels.emptyBigramTop
    else SignatureKernels.bigramRunTop(arr.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        InternalRow ${ev.value};
        if (${c.isNull}) {
          ${ev.value} = graft.functions.SignatureKernels.emptyBigramTop();
        } else {
          ${ev.value} = graft.functions.SignatureKernels.bigramRunTop(${c.value});
        }
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BigramRunTop =
    copy(child = newChild)
}

/** k-token gram hashes in ONE pass (r15) — the native fast path of the
  * winnowing gram stage: position i (0-based) yields
  * hash32(concat_ws(' ', t[i..i+k-1])), i.e. the first 8 md5 hex chars
  * of the space-joined gram as a non-negative long. The composed form
  * (`transform(sequence(1, n-k+1), i -> hash32(concat_ws(' ',
  * slice(t, i, k))))`) allocates a slice array and an interpreted
  * lambda frame per position; this kernel reuses one byte buffer and
  * one MessageDigest across the document. concat_ws semantics: NULL
  * tokens are SKIPPED (not nullified). NULL/short input yields the
  * composed form's values via the caller's guards (Winnow filters
  * size >= k first); defensively, n < k yields the empty array.
  */
case class WordGramHash32(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, "gram length must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_gram_hash32"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_gram_hash32 expects array<string>, got ${other.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    SignatureKernels.gramHash32(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.functions.SignatureKernels.gramHash32($c, $k);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordGramHash32 =
    copy(child = newChild)
}

/** Distinct sliding-window minima in ONE pass (r15) — the winnow
  * selection stage: window i of `w` consecutive gram hashes contributes
  * its minimum, deduped order-preserving. The composed form
  * (`array_distinct(transform(sequence(1, greatest(1, n-w+1)), i ->
  * array_min(slice(gh, i, w))))`) allocates a w-sized slice per window
  * — O(n·w) churn; this kernel keeps a monotonic deque — O(n) total.
  * Short inputs (n < w) yield one window over what exists, exactly
  * like the clipped slice. NULL elements cannot occur in the winnow
  * pipeline (hashes of non-null grams); defensively they are skipped
  * by the min exactly like array_min.
  */
case class SlidingMinDistinct(child: Expression, w: Int) extends UnaryExpression {

  require(w >= 1, "window length must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_winnow_min"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_winnow_min expects array<bigint>, got ${other.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    SignatureKernels.slidingMinDistinct(a.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.functions.SignatureKernels.slidingMinDistinct($c, $w);"
    })

  override protected def withNewChildInternal(newChild: Expression): SlidingMinDistinct =
    copy(child = newChild)
}

/** Positional n-token spans in ONE pass (r16) — the native fast path of
  * `ExactSubstr.removal`'s starts stage: position i (1-based) yields
  * struct(s = i, g = concat_ws(' ', t[i..i+n-1])). The composed form
  * (`transform(sequence(1, size(t)-n+1), i -> struct(i AS s,
  * concat_ws(' ', slice(t, i, n)) AS g))`) materializes an index array
  * per doc and runs an interpreted lambda per position, each allocating
  * an n-sized slice array before the concat — on a FULL-CORPUS explode
  * pass feeding q83–q86, q99 and the q103 workflow. This kernel slides
  * one window and joins each span with one `UTF8String.concatWs`.
  *
  * Parity with the composed form (asserted in SignatureExpressionsSpec):
  * concat_ws semantics — NULL tokens are SKIPPED, never nullify the
  * span (contrast WordShingles' concat rule); spans are emitted in
  * position order WITHOUT dedup (removal needs every occurrence);
  * the caller guards `size(t) >= n`, and defensively a shorter (or
  * NULL-sized) input yields the empty array via the null-safe wrapper.
  */
case class SpanStarts(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "span length must be positive")

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_span_starts"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_span_starts expects array<string>, got ${other.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    SignatureKernels.spanStarts(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.functions.SignatureKernels.spanStarts($c, $n);"
    })

  override protected def withNewChildInternal(newChild: Expression): SpanStarts =
    copy(child = newChild)
}

/** Token excision by MERGED CUT INTERVALS in ONE pass (r16) — the native
  * fast path of `ExactSubstr.removal`'s kept filter: keep token at
  * 1-based position p iff NO cut interval [cut_start, cut_end] covers p.
  * The composed form (`CASE WHEN cuts IS NULL THEN t ELSE filter(t,
  * (x, i) -> NOT exists(cuts, c -> i+1 >= c.cut_start AND i+1 <=
  * c.cut_end)) END`) runs two nested interpreted lambdas — O(len ·
  * n_cuts) frames per doc on the corpus-sized rebuild pass. This kernel
  * walks tokens and cuts together with one pointer — O(len + n_cuts).
  *
  * PRECONDITION: cuts sorted ascending by cut_start (the operator sorts
  * via array_sort; gaps-and-islands additionally makes them disjoint —
  * the walk stays correct under overlap, the spec pins both). The
  * kernel checks it itself while it reads the cut starts and raises on
  * unsorted cuts instead of returning wrong rows. Parity
  * (asserted in SignatureExpressionsSpec): NULL cuts array passes `t`
  * through verbatim; NULL `t` is NULL; NULL tokens at uncovered
  * positions survive (filter's lambda sees them, the position test
  * doesn't touch the value); a NULL cut element never covers
  * (unreachable — collect_list drops nulls — and defensively skipped).
  */
case class ExciseByIntervals(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = left.dataType
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "graft_excise"

  private def integral(t: DataType): Boolean =
    t == LongType || t == org.apache.spark.sql.types.IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.StringType, _),
        ArrayType(s: org.apache.spark.sql.types.StructType, _))
        if s.fields.length == 2 && s.fields.forall(f => integral(f.dataType)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_excise expects (array<string>, array<struct<int|bigint,int|bigint>>), " +
        s"got (${l.sql}, ${r.sql})")
  }

  // the cut fields' widths, fixed at analysis (the operator's
  // gaps-and-islands emits int bounds; a long-keyed caller still works)
  private lazy val (startIsLong, endIsLong) = right.dataType match {
    case ArrayType(s: org.apache.spark.sql.types.StructType, _) =>
      (s.fields(0).dataType == LongType, s.fields(1).dataType == LongType)
    case _ => (true, true)
  }

  override def eval(input: InternalRow): Any = {
    val t = left.eval(input)
    if (t == null) return null
    val c = right.eval(input)
    if (c == null) t
    else SignatureKernels.exciseByIntervals(
      t.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], startIsLong, endIsLong)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code = code"""
      ${l.code}
      boolean ${ev.isNull} = ${l.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${r.code}
        if (${r.isNull}) {
          ${ev.value} = ${l.value};
        } else {
          ${ev.value} = graft.functions.SignatureKernels.exciseByIntervals(
            ${l.value}, ${r.value}, $startIsLong, $endIsLong);
        }
      }
    """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ExciseByIntervals =
    copy(left = newLeft, right = newRight)
}

/** Static single-pass kernels (Scala object = static forwarders for the
  * generated Java).
  */
object SignatureKernels {

  private val Empty = org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8

  /** The fold's init struct: (0 bigrams, run 0, gram ''). */
  def emptyBigramTop: InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](0L, 0L, Empty))

  /** Bigrams → sort ascending (NULLs first, binary UTF8 order — exactly
    * sort_array) → sorted-runs maximum with strict `>` update; composed
    * parity documented on [[BigramRunTop]].
    */
  def bigramRunTop(toks: ArrayData): InternalRow = {
    val m = toks.numElements()
    if (m < 2) return emptyBigramTop
    val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val bg = new Array[org.apache.spark.unsafe.types.UTF8String](m - 1)
    var i = 0
    while (i < m - 1) {
      // concat's NULL propagation: either token NULL → NULL bigram
      bg(i) =
        if (toks.isNullAt(i) || toks.isNullAt(i + 1)) null
        else org.apache.spark.unsafe.types.UTF8String.concatWs(sep,
          toks.getUTF8String(i), toks.getUTF8String(i + 1))
      i += 1
    }
    // sort_array ascending: NULLs first, then binary order
    java.util.Arrays.sort(bg,
      new java.util.Comparator[org.apache.spark.unsafe.types.UTF8String] {
        override def compare(a: org.apache.spark.unsafe.types.UTF8String,
            b: org.apache.spark.unsafe.types.UTF8String): Int =
          if (a == null && b == null) 0
          else if (a == null) -1
          else if (b == null) 1
          else a.compareTo(b)
      })
    var prev: org.apache.spark.unsafe.types.UTF8String = Empty
    var run = 0L
    var c = 0L
    var g: org.apache.spark.unsafe.types.UTF8String = Empty
    i = 0
    while (i < bg.length) {
      val x = bg(i)
      // SQL `x = s.prev`: NULL on either side → not equal → run restarts
      run = if (x != null && prev != null && x.equals(prev)) run + 1 else 1L
      if (run > c) { c = run; g = x }
      prev = x
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any]((m - 1).toLong, c, g))
  }

  /** One pass over the hashes, 32 bit-counters; composed-form parity
    * documented on [[SimHash32]].
    */
  def simhash32(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](32)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var b = 0
        var bit = 1L
        while (b < 32) {
          // truncating div/mod — identical to the composed (h / bit) % 2
          if ((h / bit) % 2 == 1) counts(b) += 1
          bit <<= 1
          b += 1
        }
      }
      i += 1
    }
    var acc = 0L
    var b = 0
    while (b < 32) {
      if (counts(b) * 2 > n) acc |= 1L << b
      b += 1
    }
    acc
  }

  /** One gram-hash pass; composed-form parity documented on
    * [[WordGramHash32]]. hash32 = first 8 md5 hex chars as a
    * non-negative long = the first 4 digest bytes read big-endian
    * unsigned (`parseLong(hex.take(8), 16)` over the same bytes).
    */
  def gramHash32(toks: ArrayData, k: Int): ArrayData = {
    val m = toks.numElements()
    if (m < k) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val space: Byte = ' '
    val out = new Array[Any](m - k + 1)
    var i = 0
    while (i <= m - k) {
      md.reset()
      var j = 0
      var first = true
      while (j < k) {
        // concat_ws semantics: skip NULL tokens entirely
        if (!toks.isNullAt(i + j)) {
          if (!first) md.update(space)
          first = false
          md.update(toks.getUTF8String(i + j).getBytes)
        }
        j += 1
      }
      val d = md.digest()
      out(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Monotonic-deque sliding minima + order-preserving distinct;
    * composed-form parity documented on [[SlidingMinDistinct]].
    */
  def slidingMinDistinct(gh: ArrayData, w: Int): ArrayData = {
    val n = gh.numElements()
    if (n == 0) {
      // composed: sequence(1, greatest(1, 1-w)) = [1], slice of the
      // empty array = empty, array_min(empty) = NULL, distinct -> [NULL]
      return new GenericArrayData(Array[Any](null))
    }
    val nWin = math.max(1, n - w + 1)
    val seen = new java.util.LinkedHashSet[Any]()
    // deque of indices with increasing values; null elements skipped
    // (array_min ignores NULLs; an all-null window yields NULL)
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    var i = 0
    while (i < nWin) {
      // evict indices left of the window [i, i+w)
      while (head < tail && dq(head) < i) head += 1
      // admit new right edge(s): window i covers up to min(i+w, n)-1
      val hi = math.min(i + w, n)
      var j = if (i == 0) 0 else hi - 1
      while (j < hi) {
        if (!gh.isNullAt(j)) {
          val v = gh.getLong(j)
          while (head < tail && gh.getLong(dq(tail - 1)) >= v) tail -= 1
          dq(tail) = j
          tail += 1
        }
        j += 1
      }
      seen.add(if (head < tail) gh.getLong(dq(head)) else null)
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** One sliding window pass, dedup order-preserving; composed-form
    * parity documented on [[WordShingles]].
    */
  def wordShingles(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[Any]()
    val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    var i = 0
    while (i <= m - n) {
      var nul = false
      var j = 0
      while (j < n && !nul) {
        if (arr.isNullAt(i + j)) nul = true
        else parts(j) = arr.getUTF8String(i + j)
        j += 1
      }
      // concat's NULL propagation: any NULL token → NULL shingle (do NOT
      // use concatWs semantics, which would skip the NULL part)
      if (nul) seen.add(null)
      else seen.add(
        org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** One sliding-window pass emitting (1-based position, span) structs;
    * composed-form parity documented on [[SpanStarts]]. concat_ws
    * semantics: `UTF8String.concatWs` itself skips NULL inputs.
    */
  def spanStarts(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i <= m - n) {
      var j = 0
      while (j < n) {
        parts(j) =
          if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](i + 1,
          org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One merged pointer walk over tokens and sorted cut intervals;
    * composed-form parity and the sorted-by-start precondition
    * documented on [[ExciseByIntervals]]. The precondition is checked
    * in one pass over the cut starts: the walk only ever looks at the
    * cut under its pointer, so an out-of-order cut behind a later start
    * would silently keep tokens it covers.
    */
  def exciseByIntervals(toks: ArrayData, cuts: ArrayData,
      startIsLong: Boolean, endIsLong: Boolean): ArrayData = {
    val m = toks.numElements()
    val nc = cuts.numElements()
    def startOf(r: InternalRow): Long =
      if (startIsLong) r.getLong(0) else r.getInt(0).toLong
    def endOf(r: InternalRow): Long =
      if (endIsLong) r.getLong(1) else r.getInt(1).toLong
    var prevStart = Long.MinValue
    var c = 0
    while (c < nc) {
      if (!cuts.isNullAt(c)) {
        val s = startOf(cuts.getStruct(c, 2))
        if (s < prevStart) throw new IllegalArgumentException(
          s"graft_excise: cuts must be sorted ascending by cut_start, " +
            s"but cut ${c + 1} starts at $s after a cut starting at $prevStart")
        prevStart = s
      }
      c += 1
    }
    val out = new Array[AnyRef](m)
    var k = 0
    var j = 0
    var i = 0
    while (i < m) {
      val pos = (i + 1).toLong
      // a cut whose end is behind pos can never cover this or any later
      // position (cuts sorted by start; see class doc for the overlap
      // argument); NULL cut elements (unreachable) are skipped the same way
      while (j < nc && (cuts.isNullAt(j) || endOf(cuts.getStruct(j, 2)) < pos)) j += 1
      val covered = j < nc && startOf(cuts.getStruct(j, 2)) <= pos
      if (!covered) {
        out(k) = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
        k += 1
      }
      i += 1
    }
    new GenericArrayData(
      if (k == m) out else java.util.Arrays.copyOfRange(out, 0, k))
  }

  /** One pass over the hashes, k running minima. */
  def minhashAffine(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val h = arr.getLong(i)
        var s = 0
        while (s < k) {
          val v = ((2L * s + 1) * h + s * TextFunctions.MinhashB) % TextFunctions.MinhashMod
          if (v < mins(s)) mins(s) = v
          s += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](k)
    if (any) {
      var s = 0
      while (s < k) { out(s) = mins(s); s += 1 }
    }
    new GenericArrayData(out)
  }
}
