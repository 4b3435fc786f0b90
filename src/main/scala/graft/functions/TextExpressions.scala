package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native repetition statistics over the `ngram`-grams of an
  * `array<string>`: returns struct(top, dup) where `top` is the highest
  * multiplicity of any n-gram and `dup` the total occurrences of
  * n-grams appearing ≥2 times — the inner loop of the Gopher
  * repetition filters.
  *
  * A custom expression instead of the equivalent
  * `aggregate(array_sort(transform(sequence(...))))` HOF chain:
  * higher-order functions evaluate an interpreted expression tree per
  * ELEMENT (the bigram-building `transform` alone dominated the t11
  * query), while this builds the n-grams AND sorts AND scans in one
  * tight JVM loop over Tungsten `UTF8String`s (binary order — any
  * total order groups equal elements). Null ELEMENTS sort as empty
  * strings (split() never produces them; defensive). Code-generated
  * via the shared [[TextKernels.repeatStats]] kernel (doGenCode
  * inlines the child — typically a split() — into generated code
  * instead of re-walking it interpreted per row, the Ngrams rule).
  */
case class RepeatStats(child: Expression, ngram: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = ngram

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, ngram.dataType) match {
      case (ArrayType(StringType, _), IntegerType) if ngram.foldable =>
        TextExpressions.nonNullConst(prettyName, "ngram", ngram)
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, foldable int), got " +
        s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("top", LongType, nullable = false),
    StructField("dup", LongType, nullable = false)))

  override def prettyName: String = "graft_repeat_stats"

  @transient private lazy val ngConst: Int = ngram.eval().asInstanceOf[Int]

  override def nullSafeEval(v: Any, nv: Any): Any =
    TextKernels.repeatStats(v.asInstanceOf[ArrayData], nv.asInstanceOf[Int])

  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val leftGen = child.genCode(ctx)
    ev.copy(code = leftGen.code + code"""
      boolean ${ev.isNull} = ${leftGen.isNull};
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.TextKernels.repeatStats(
          ${leftGen.value}, $ngConst);
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, ngram = newRight)
}

/** All OVERLAPPING `window`-token window hashes of an `array<string>`,
  * as array<struct<s:int, h:bigint>> with 1-based start positions — the
  * candidate-generation step of span-removal substring dedup
  * ([[graft.ext.Dedup.dedupSpans]]).
  *
  * Native for the same reason as [[RepeatStats]]: the equivalent
  * `transform(sequence(...), s -> xxhash64(concat_ws(slice(...))))`
  * chain interprets an expression tree per window AND re-concatenates
  * each token `window` times. Here every token is xxhash64'd ONCE
  * (XXH64 over its UTF8 bytes) and each window chains the 8 token
  * hashes — O(n·window) long-mixes, no string building. Hash values are
  * internal candidate keys only (equal token sequences ⇒ equal hash;
  * 64-bit collisions are the same accepted risk as the shingle ops), so
  * they never need to match any SQL-recomputable value.
  */
case class WindowHashes(child: Expression, window: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = window

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, window.dataType) match {
      case (ArrayType(StringType, _), IntegerType) if window.foldable =>
        TextExpressions.nonNullConst(prettyName, "window", window)
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, foldable int), got " +
        s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("s", IntegerType, nullable = false),
    StructField("h", LongType, nullable = false))), containsNull = false)

  override def prettyName: String = "graft_window_hashes"

  @transient private lazy val wConst: Int = window.eval().asInstanceOf[Int]

  override def nullSafeEval(v: Any, wv: Any): Any =
    TextKernels.windowHashes(v.asInstanceOf[ArrayData], wv.asInstanceOf[Int])

  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val leftGen = child.genCode(ctx)
    ev.copy(code = leftGen.code + code"""
      boolean ${ev.isNull} = ${leftGen.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.TextKernels.windowHashes(
          ${leftGen.value}, $wConst);
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, window = newRight)
}

/** All overlapping space-joined `n`-grams of an `array<string>`, as
  * array<string>. Native for the same reason as [[WindowHashes]], but
  * for consumers that need the n-gram TEXT (corpus-level top-ngram
  * counting): one loop of `UTF8String.concatWs` per window beats the
  * interpreted `transform(sequence(...), concat_ws(element_at...))`
  * tree that otherwise runs per window.
  *
  * Code-generated, not CodegenFallback: `doGenCode` inlines the
  * (generated) child evaluation and calls the SAME static kernel as
  * `nullSafeEval` ([[TextKernels.ngrams]]) with the n-gram width baked
  * in as a constant — no interpreted re-evaluation of the child tree
  * per row, no Literal probe for the foldable width. */
case class Ngrams(child: Expression, ngram: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = ngram

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, ngram.dataType) match {
      case (ArrayType(StringType, _), IntegerType) if ngram.foldable =>
        TextExpressions.nonNullConst(prettyName, "ngram", ngram)
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, foldable int), got " +
        s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ngrams"

  @transient private lazy val ngConst: Int = ngram.eval().asInstanceOf[Int]

  override def nullSafeEval(v: Any, nv: Any): Any =
    TextKernels.ngrams(v.asInstanceOf[ArrayData], nv.asInstanceOf[Int])

  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val leftGen = child.genCode(ctx)
    ev.copy(code = leftGen.code + code"""
      boolean ${ev.isNull} = ${leftGen.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.TextKernels.ngrams(
          ${leftGen.value}, $ngConst);
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, ngram = newRight)
}

/** NON-overlapping fixed-grid `window`-token segments of an
  * `array<string>`, as array<struct<pos:int, seg:string>> with 1-based
  * token start positions (the trailing segment may be shorter) — the
  * segmentation step of fixed-grid sub-document dedup
  * ([[graft.ext.Dedup.dedupSegments]]). Native for the same reason as
  * [[Ngrams]]: one concatWs loop instead of an interpreted
  * transform/slice tree per segment. */
case class GridSegments(child: Expression, window: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = window

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, window.dataType) match {
      case (ArrayType(StringType, _), IntegerType) if window.foldable =>
        TextExpressions.nonNullConst(prettyName, "window", window)
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, foldable int), got " +
        s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("seg", StringType, nullable = false))), containsNull = false)

  override def prettyName: String = "graft_grid_segments"

  @transient private lazy val wConst: Int = window.eval().asInstanceOf[Int]

  override def nullSafeEval(v: Any, wv: Any): Any =
    TextKernels.gridSegments(v.asInstanceOf[ArrayData], wv.asInstanceOf[Int])

  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val leftGen = child.genCode(ctx)
    ev.copy(code = leftGen.code + code"""
      boolean ${ev.isNull} = ${leftGen.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.TextKernels.gridSegments(
          ${leftGen.value}, $wConst);
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, window = newRight)
}

/** Rebuild a document with every token covered by a duplicated
  * `window`-token span removed: `starts` holds the 1-based start
  * positions of the duplicated windows (sorted ascending), and a token
  * at position p is dropped iff some start s satisfies s ≤ p < s +
  * window. One merged-interval sweep — O(n + |starts|) — instead of the
  * interpreted `filter(sequence, p -> !exists(starts, ...))` chain,
  * which is O(n·|starts|) with a tree-eval per position. The final step
  * of [[graft.ext.Dedup.dedupSpans]]. */
case class RemoveSpans(toks: Expression, starts: Expression,
    window: Expression) extends TernaryExpression {

  override def first: Expression = toks
  override def second: Expression = starts
  override def third: Expression = window

  override def checkInputDataTypes(): TypeCheckResult =
    (toks.dataType, starts.dataType, window.dataType) match {
      case (ArrayType(StringType, _), ArrayType(IntegerType, _), IntegerType)
          if window.foldable =>
        TextExpressions.nonNullConst(prettyName, "window", window)
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, array<int>, foldable int), " +
        s"got (${a.catalogString}, ${b.catalogString}, ${c.catalogString})")
    }

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_remove_spans"

  @transient private lazy val wConst: Int = window.eval().asInstanceOf[Int]

  override def nullSafeEval(t: Any, s: Any, wv: Any): Any =
    TextKernels.removeSpans(t.asInstanceOf[ArrayData],
      s.asInstanceOf[ArrayData], wv.asInstanceOf[Int])

  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val tGen = toks.genCode(ctx)
    val sGen = starts.genCode(ctx)
    ev.copy(code = tGen.code + sGen.code + code"""
      boolean ${ev.isNull} = ${tGen.isNull} || ${sGen.isNull};
      org.apache.spark.unsafe.types.UTF8String ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.TextKernels.removeSpans(
          ${tGen.value}, ${sGen.value}, $wConst);
      }""")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(toks = newFirst, starts = newSecond, window = newThird)
}

/** Single-pass document-length + term-frequency scan for a small fixed
  * term set: `(text, array<string> terms)` →
  * `struct(dl: bigint, tf: array<bigint>)` where `dl` is the
  * single-space token count (the `string_split(text, ' ')` convention
  * every text oracle here uses, empty tokens included) and `tf(i)` the
  * exact occurrence count of `terms(i)` — the per-document integers
  * BM25 needs ([[graft.ext.TextAnalysis.bm25]]).
  *
  * Native for the same reason as [[RepeatStats]]: the declarative
  * equivalent is one `size(filter(split(text,' '), t -> t = term))` HOF
  * per term — |terms| interpreted expression-tree walks per element,
  * plus the split allocation. Here the text is tokenized ONCE by
  * scanning its UTF-8 bytes for 0x20 (no regex, single-byte delimiter
  * ⇒ no multi-byte false hits), and each token is compared against the
  * term byte-arrays in place — zero string allocation per row. Term
  * counts stay exact integers so the BM25 doubles derived from them
  * are bit-reproducible against the SQL oracle.
  *
  * Code-generated, not CodegenFallback: the foldable term list is
  * materialized ONCE per expression instance as `byte[][]` (the old
  * fallback path rebuilt it per ROW from the Literal's ArrayData) and
  * handed to the generated code as a reference object; the child text
  * evaluates in generated code and the scan runs in the shared static
  * kernel ([[TextKernels.termFreqs]]). */
case class TermFreqs(child: Expression, terms: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = terms

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, terms.dataType) match {
      case (StringType, ArrayType(StringType, _)) if terms.foldable =>
        TextExpressions.nonNullConst(prettyName, "terms", terms)
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, foldable array<string>), got " +
        s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("dl", LongType, nullable = false),
    StructField("tf", ArrayType(LongType, containsNull = false),
      nullable = false)))

  override def prettyName: String = "graft_term_freqs"

  @transient private lazy val termBytes: Array[Array[Byte]] = {
    val ta = terms.eval().asInstanceOf[ArrayData]
    Array.tabulate(ta.numElements()) { i =>
      val t = ta.getUTF8String(i)
      (if (t == null) UTF8String.EMPTY_UTF8 else t).getBytes
    }
  }

  override def nullSafeEval(v: Any, tv: Any): Any =
    TextKernels.termFreqs(v.asInstanceOf[UTF8String], termBytes)

  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val leftGen = child.genCode(ctx)
    val ref = ctx.addReferenceObj("graftTermBytes", termBytes, "byte[][]")
    ev.copy(code = leftGen.code + code"""
      boolean ${ev.isNull} = ${leftGen.isNull};
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.TextKernels.termFreqs(
          ${leftGen.value}, $ref);
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, terms = newRight)
}

object BpeEncode {
  /** First token id beyond the Unicode codepoint range (0x110000):
    * ids < Base are base-alphabet tokens (the codepoint itself), ids
    * ≥ Base are learned merges (Base + 1-based merge rank) — the
    * standard tokenizer layout of base alphabet + appended merges,
    * collision-free by construction. */
  val Base: Int = 0x110000
}

/** t30's greedy tokenizer ENCODE: `(text, foldable array<string>
  * merges)` → `array<int>` token ids. One left-to-right scan; at each
  * position the 2-codepoint substring is probed against the merge
  * table (the rank-ordered pair list t26 trains) — a hit emits
  * `BpeEncode.Base + rank` and advances two codepoints, a miss emits
  * the codepoint itself and advances one. Greedy-longest-match with a
  * max unit of 2 codepoints, so the scan is O(len) with an O(1) hash
  * probe per position; merge pairs never contain spaces (t26 pairs
  * come from within words), so scanning straight across word
  * boundaries is equivalent to per-word encode — spaces always emit
  * as their own base token, which is what makes decode an EXACT
  * string reconstruction (the round-trip ExtSpec pins).
  *
  * Native expression rather than an `aggregate(sequence(...))` HOF
  * fold for the same reason as [[RepeatStats]]: the fold interprets an
  * expression tree per CHARACTER and probes the merge list linearly;
  * this is one tight JVM loop with a shared hash map. The merge table
  * is a foldable literal — evaluated once per operator, not per row —
  * which is the broadcast-vocab shape: at 100 TB the vocab rides the
  * closure (bytes), the corpus never shuffles. */
case class BpeEncodeExpr(child: Expression, merges: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = merges

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, merges.dataType) match {
      case (StringType, ArrayType(StringType, _)) if merges.foldable =>
        TextExpressions.nonNullConst(prettyName, "merges", merges)
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, foldable array<string>), got " +
        s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_bpe_encode"

  /** rank map built ONCE per operator (merges is foldable): pair text →
    * Base + 1-based rank. putIfAbsent keeps the lowest rank should a
    * caller pass duplicates. */
  @transient private lazy val mergeIds: java.util.HashMap[String, Integer] = {
    val arr = merges.eval().asInstanceOf[ArrayData]
    val m = new java.util.HashMap[String, Integer]()
    var i = 0
    while (i < arr.numElements()) {
      val p = arr.getUTF8String(i)
      if (p != null)
        m.putIfAbsent(p.toString, Integer.valueOf(BpeEncode.Base + i + 1))
      i += 1
    }
    m
  }

  override def nullSafeEval(v: Any, mv: Any): Any =
    TextKernels.bpeEncode(v.asInstanceOf[UTF8String], mergeIds)

  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val leftGen = child.genCode(ctx)
    val ref = ctx.addReferenceObj("graftMergeIds", mergeIds,
      "java.util.HashMap<String, Integer>")
    ev.copy(code = leftGen.code + code"""
      boolean ${ev.isNull} = ${leftGen.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.TextKernels.bpeEncode(
          ${leftGen.value}, $ref);
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, merges = newRight)
}

/** Native Jaro-Winkler similarity between two strings, DuckDB/RapidFuzz
  * convention so the x25 oracle can hash-compare the raw double:
  * the match runs over UTF-8 BYTES, not code points or UTF-16 units —
  * DuckDB strings are UTF-8 byte arrays and its matcher walks bytes
  * (probed: `jaro_winkler_similarity('éx','ex')` is 0.0 in DuckDB,
  * impossible under code-unit matching, because the 2-byte é shifts
  * 'x' outside the window); lengths, the match window
  * `floor(max(len)/2) - 1`, and the ≤4-unit prefix bonus therefore all
  * count bytes. Transpositions = FLOOR of half the mismatched
  * matched-pairs (an integer — textbook descriptions use the
  * half-fractional form, DuckDB floors); Winkler prefix bonus
  * (p = 0.1) only when jaro > 0.7; any empty input scores 0.0
  * (including both-empty — DuckDB returns 0.0, not the textbook 1.0).
  * The finishing arithmetic is spelled in DuckDB's IEEE order —
  * `(m/l1 + m/l2 + (m−t)/m) / 3.0`, then `j + (l·0.1)·(1−j)` — and was
  * validated bit-exact (`==` on the double) against
  * `jaro_winkler_similarity` over 7k real part-name pairs plus edge
  * probes. Code-generated (doGenCode calls the same
  * static [[JaroWinklerExpr.similarity]] the spec recomputes with):
  * the matching loop runs as one tight JVM loop either way, but the
  * generated path evaluates the child strings in generated code
  * instead of re-walking them interpreted per candidate pair — and
  * x25b's verify stage evaluates this per candidate.
  */
case class JaroWinklerExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string), got " +
        s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerExpr.similarity(a.asInstanceOf[UTF8String].getBytes,
      b.asInstanceOf[UTF8String].getBytes)

  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaroWinklerExpr.similarity($a.getBytes(), $b.getBytes())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinklerExpr {
  /** String convenience overload (tests, driver-side probes): the
    * match itself runs over the UTF-8 bytes — see [[JaroWinklerExpr]]
    * for why that is the DuckDB-faithful domain. */
  def similarity(s1: String, s2: String): Double =
    similarity(s1.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      s2.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** See [[JaroWinklerExpr]] for the exact convention (UTF-8 bytes). */
  def similarity(s1: Array[Byte], s2: Array[Byte]): Double = {
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2, i + window + 1)
      var j = lo
      var done = false
      while (j < hi && !done) {
        if (!m2(j) && s1(i) == s2(j)) {
          m1(i) = true; m2(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // mismatches between the two matched subsequences, in order
    var mism = 0
    var j2 = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(j2)) j2 += 1
        if (s1(i) != s2(j2)) mism += 1
        j2 += 1
      }
      i += 1
    }
    val t = (mism / 2).toDouble
    val md = m.toDouble
    var jaro = (md / l1 + md / l2 + (md - t) / md) / 3.0
    if (jaro > 0.7) {
      var l = 0
      val maxP = math.min(4, math.min(l1, l2))
      while (l < maxP && s1(l) == s2(l)) l += 1
      jaro = jaro + l * 0.1 * (1.0 - jaro)
    }
    jaro
  }
}

/** All consecutive code-point pairs of a string — t31's char-bigram
  * generator, in ONE O(n) byte walk.
  *
  * Replaces the declarative
  * `transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))`:
  * `substring(t, i, 2)` must walk the UTF-8 bytes from the string
  * START to find the i-th code point, so materializing every bigram of
  * a document costs O(len²) — measured SUPER-linear at the 10× scale
  * tier (ratio 19.7, exactly 10 × the 1.4² from the salted replica
  * docs being ~1.4× longer). This walk records every code-point
  * boundary once and slices pairs off the byte array directly.
  *
  * Pairing semantics are identical to Spark's `substring` / DuckDB's
  * `substr` (consecutive code points), so t31's cross-engine oracle is
  * unaffected.
  *
  * Code-generated, not CodegenFallback: `doGenCode` delegates to the
  * shared static kernel ([[TextKernels.charBigrams]]) with the child
  * evaluated in generated code. */
case class CharBigrams(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_char_bigrams"

  override def nullSafeEval(v: Any): Any =
    TextKernels.charBigrams(v.asInstanceOf[UTF8String])

  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.charBigrams($c)")

  override protected def withNewChildInternal(c: Expression): CharBigrams =
    copy(child = c)
}

object TextExpressions {

  /** Shared analysis-time guard for this file's REQUIRED foldable
    * constant arguments: a NULL literal must FAIL ANALYSIS rather than
    * diverge between execution modes — interpreted eval would return
    * NULL row-wise (BinaryExpression's null short-circuit), while the
    * codegen path bakes the constant at planning time, silently
    * unboxing a null Integer to 0 (or NPE-ing on a null array). One
    * clear error beats two different answers. */
  private[functions] def nonNullConst(prettyName: String, argName: String,
      e: Expression): TypeCheckResult =
    if (e.eval() == null)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a non-NULL $argName literal")
    else TypeCheckResult.TypeCheckSuccess

  /** Arity guard for the SQL builders: a wrong argument count gets a
    * named error instead of an IndexOutOfBoundsException from deep in
    * analysis. */
  private def arity(name: String, lo: Int, hi: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length < lo || exprs.length > hi)
        throw new IllegalArgumentException(
          s"$name expects ${if (lo == hi) s"$lo" else s"$lo to $hi"} " +
            s"arguments, got ${exprs.length}")
      build(exprs)
    }

  /** Register `graft_repeat_stats` for Column-API and SQL use. Idempotent. */
  def register(spark: SparkSession): Unit =
    NativeFunctions.registerOnce(spark, "graft_repeat_stats")(
      arity("graft_repeat_stats", 1, 2)(exprs => RepeatStats(exprs(0),
        if (exprs.length > 1) exprs(1) else Literal(1))))

  /** struct(top, dup) repetition stats over the token array's
    * `ngram`-grams (requires [[register]]). */
  def repeatStats(arr: Column, ngram: Int = 1): Column =
    call_function("graft_repeat_stats", arr, lit(ngram))

  /** Register `graft_window_hashes`. Idempotent. */
  def registerWindowHashes(spark: SparkSession): Unit =
    NativeFunctions.registerOnce(spark, "graft_window_hashes")(
      arity("graft_window_hashes", 2, 2)(exprs => WindowHashes(exprs(0), exprs(1))))

  /** array<struct<s,h>> overlapping window hashes (requires
    * [[registerWindowHashes]]). */
  def windowHashes(arr: Column, window: Int): Column =
    call_function("graft_window_hashes", arr, lit(window))

  /** Register `graft_ngrams`. Idempotent. */
  def registerNgrams(spark: SparkSession): Unit =
    NativeFunctions.registerOnce(spark, "graft_ngrams")(
      arity("graft_ngrams", 2, 2)(exprs => Ngrams(exprs(0), exprs(1))))

  /** array<string> overlapping n-grams (requires [[registerNgrams]]). */
  def ngrams(arr: Column, n: Int): Column =
    call_function("graft_ngrams", arr, lit(n))

  /** Register `graft_grid_segments`. Idempotent. */
  def registerGridSegments(spark: SparkSession): Unit =
    NativeFunctions.registerOnce(spark, "graft_grid_segments")(
      arity("graft_grid_segments", 2, 2)(exprs => GridSegments(exprs(0), exprs(1))))

  /** array<struct<pos,seg>> fixed-grid segments (requires
    * [[registerGridSegments]]). */
  def gridSegments(arr: Column, window: Int): Column =
    call_function("graft_grid_segments", arr, lit(window))

  /** Register `graft_remove_spans`. Idempotent. */
  def registerRemoveSpans(spark: SparkSession): Unit =
    NativeFunctions.registerOnce(spark, "graft_remove_spans")(
      arity("graft_remove_spans", 3, 3)(exprs => RemoveSpans(exprs(0), exprs(1), exprs(2))))

  /** Span-removal rebuild (requires [[registerRemoveSpans]]). */
  def removeSpans(toks: Column, starts: Column, window: Int): Column =
    call_function("graft_remove_spans", toks, starts, lit(window))

  /** Register `graft_term_freqs`. Idempotent. */
  def registerTermFreqs(spark: SparkSession): Unit =
    NativeFunctions.registerOnce(spark, "graft_term_freqs")(
      arity("graft_term_freqs", 2, 2)(exprs => TermFreqs(exprs(0), exprs(1))))

  /** struct(dl, tf) one-pass length + term counts (requires
    * [[registerTermFreqs]]). */
  def termFreqs(text: Column, terms: Seq[String]): Column =
    call_function("graft_term_freqs", text, stringArrayLit(terms))

  /** A foldable `array<string>` literal that stays `array<string>` at
    * ZERO elements — `functions.array()` with no children types as
    * `array<null>` (Spark infers the element type from the children),
    * which the constant-array expressions here reject at analysis. An
    * empty trained artifact (no merges learned from a single-char
    * corpus, an empty term list) must mean "no-op model", not a
    * crash. */
  private def stringArrayLit(xs: Seq[String]): Column =
    if (xs.isEmpty)
      org.apache.spark.sql.functions.typedlit(Array.empty[String])
    else org.apache.spark.sql.functions.array(xs.map(lit): _*)

  /** Register `graft_bpe_encode`. Idempotent. */
  def registerBpeEncode(spark: SparkSession): Unit =
    NativeFunctions.registerOnce(spark, "graft_bpe_encode")(
      arity("graft_bpe_encode", 2, 2)(exprs => BpeEncodeExpr(exprs(0), exprs(1))))

  /** array<int> greedy merge-encode of `text` against the rank-ordered
    * `merges` pair list (requires [[registerBpeEncode]]); an EMPTY
    * merge list is the no-op tokenizer — per-code-point ids, no
    * merges applied. */
  def bpeEncode(text: Column, merges: Seq[String]): Column =
    call_function("graft_bpe_encode", text, stringArrayLit(merges))

  /** Register `graft_char_bigrams`. Idempotent. */
  def registerCharBigrams(spark: SparkSession): Unit =
    NativeFunctions.registerOnce(spark, "graft_char_bigrams")(
      arity("graft_char_bigrams", 1, 1)(exprs => CharBigrams(exprs(0))))

  /** array<string> consecutive code-point pairs (requires
    * [[registerCharBigrams]]). */
  def charBigrams(text: Column): Column =
    call_function("graft_char_bigrams", text)

  /** Register `graft_jaro_winkler`. Idempotent. */
  def registerJaroWinkler(spark: SparkSession): Unit =
    NativeFunctions.registerOnce(spark, "graft_jaro_winkler")(
      arity("graft_jaro_winkler", 2, 2)(exprs => JaroWinklerExpr(exprs(0), exprs(1))))

  /** Jaro-Winkler similarity (requires [[registerJaroWinkler]]). */
  def jaroWinkler(a: Column, b: Column): Column =
    call_function("graft_jaro_winkler", a, b)
}
