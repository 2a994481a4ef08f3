package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.functions.call_function

/** Session extension registering graft's native expressions, so that
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * [[GraftExtensions.register]] on a live session) exposes them to SQL and
  * the Column API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.keptTokensFn)
    ext.injectFunction(GraftExtensions.keepTokenFn)
    ext.injectFunction(GraftExtensions.encodeWordFn)
    ext.injectFunction(GraftExtensions.levWithinFn)
    ext.injectFunction(GraftExtensions.interleaveBitsFn)
    ext.injectFunction(GraftExtensions.charShinglesFn)
    ext.injectFunction(GraftExtensions.winnowFingerprintsFn)
    ext.injectFunction(GraftExtensions.pairCombosFn)
    ext.injectFunction(GraftExtensions.hllRegisterAggFn)
    ext.injectFunction(GraftExtensions.hilbertIndexFn)
    ext.injectFunction(GraftExtensions.kmvAggFn)
    ext.injectFunction(GraftExtensions.jaroWinklerFn)
    ext.injectFunction(GraftExtensions.damerauLevFn)
    ext.injectFunction(GraftExtensions.ivecDotFn)
    ext.injectFunction(GraftExtensions.ivecSqDistFn)
    ext.injectOptimizerRule(_ => EncodeWordSimplification)
    ext.injectOptimizerRule(_ => SummaryRewrite)
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectPlannerStrategy(_ => TokenCountsStrategy)
    // parser tier: the GRAFT TOPK dialect (only effective when the session
    // is BUILT with spark.sql.extensions=graft.plans.GraftExtensions — the
    // parser is baked into sessionState at construction, so the imperative
    // register() below cannot retrofit it)
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
  }
}

object GraftExtensions {
  /** ExpressionInfo with a real usage string, so `DESCRIBE FUNCTION`
    * documents the library instead of printing `N/A`. */
  private def info(clazz: Class[_], name: String, usage: String,
                   examples: String): ExpressionInfo =
    new ExpressionInfo(clazz.getName, null, name, usage, "",
      "\n" + examples + "\n  ", // ExpressionInfo requires "\n    Examples:" prefix
      "", "misc_funcs", "4.0.0", "", "built-in")

  private val keptTokensFn = (
    new FunctionIdentifier("kept_tokens"),
    info(classOf[KeptTokens], "kept_tokens",
      "kept_tokens(text) - The word count's map phase: the tokens of text " +
        "split on the reference delimiter class that pass the keep rule " +
        "(lowercase has a char in backtick..z), in order, as one scan.",
      "    Examples:\n      > SELECT kept_tokens('The 42 c\u00B0te');\n       [\"The\",\"c\",\"te\"]"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 1,
        s"kept_tokens expects exactly 1 argument, got ${children.length}")
      KeptTokens(children.head)
    })

  private val keepTokenFn = (
    new FunctionIdentifier("keep_token"),
    info(classOf[KeepToken], "keep_token",
      "keep_token(word) - The word count's keep rule on one token: true " +
        "iff lower(word) has a char in backtick..z.",
      "    Examples:\n      > SELECT keep_token('42');\n       false"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 1,
        s"keep_token expects exactly 1 argument, got ${children.length}")
      KeepToken(children.head)
    })

  private val encodeWordFn = (
    new FunctionIdentifier("encode_word"),
    info(classOf[EncodeWordExpression], "encode_word",
      "encode_word(word) - Returns the reference engine's positional-" +
        "alphabetic encoding: each char in backtick..z maps to its " +
        "zero-padded 2-digit code (backtick=00..z=26), others are skipped; " +
        "empty result = token dropped by the keep-rule.",
      "    Examples:\n      > SELECT encode_word('ab');\n       0102"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 1,
        s"encode_word expects exactly 1 argument, got ${children.length}")
      EncodeWordExpression(children.head)
    })

  private val levWithinFn = (
    new FunctionIdentifier("lev_within"),
    info(classOf[LevWithinExpression], "lev_within",
      "lev_within(a, b, k) - Banded Levenshtein: the edit distance of a " +
        "and b if it is <= k, else k+1, in O(k*len) time and O(len) " +
        "space (k must be an INT literal). The fuzzy-join verify kernel.",
      "    Examples:\n      > SELECT lev_within('kitten', 'sitting', 3);\n       3"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 3,
        s"lev_within expects (a, b, k), got ${children.length} arguments")
      val k = children(2) match {
        case e if e.foldable &&
            e.dataType == org.apache.spark.sql.types.IntegerType =>
          e.eval().asInstanceOf[Int]
        case other => throw new IllegalArgumentException(
          s"lev_within: k must be an INT literal, got $other")
      }
      require(k >= 0, s"lev_within: k must be non-negative, got $k")
      LevWithinExpression(children(0), children(1), k)
    })

  private val interleaveBitsFn = (
    new FunctionIdentifier("interleave_bits"),
    info(classOf[InterleaveBitsExpression], "interleave_bits",
      "interleave_bits(x, y) - Morton (Z-order) interleave of two 32-bit " +
        "non-negative ints: x's bit i lands at position 2i, y's at 2i+1. " +
        "Sorting by the result co-locates rows close in BOTH dimensions " +
        "(min/max file skipping on either column).",
      "    Examples:\n      > SELECT interleave_bits(1, 0);\n       1"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 2,
        s"interleave_bits expects (x, y), got ${children.length} arguments")
      InterleaveBitsExpression(children(0), children(1))
    })

  private val charShinglesFn = (
    new FunctionIdentifier("char_shingles"),
    info(classOf[ShingleGenerator], "char_shingles",
      "char_shingles(text, k, stride) - Generator: one row per sampled " +
        "character k-gram of text (codepoint positions 0, stride, " +
        "2*stride, ...; k and stride must be INT literals). Strings " +
        "shorter than k emit no rows. The dedup-pipeline shingler as a " +
        "native UDTF.",
      "    Examples:\n      > SELECT char_shingles('abcd', 3, 1);\n       abc\n       bcd"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 3,
        s"char_shingles expects (text, k, stride), got ${children.length} arguments")
      def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
                 what: String): Int = e match {
        case l if l.foldable && l.dataType == org.apache.spark.sql.types.IntegerType =>
          l.eval().asInstanceOf[Int]
        case other => throw new IllegalArgumentException(
          s"char_shingles: $what must be an INT literal, got $other")
      }
      ShingleGenerator(children(0),
        intLit(children(1), "k"), intLit(children(2), "stride"))
    })

  private val winnowFingerprintsFn = (
    new FunctionIdentifier("winnow_fingerprints"),
    info(classOf[WinnowGenerator], "winnow_fingerprints",
      "winnow_fingerprints(text, k, w) - Generator: MOSS winnowing over " +
        "text. Emits (i, wm, ng) per full w-window of character k-gram " +
        "md5 hashes: i = 1-based window start, wm = the window's minimum " +
        "hash (BIGINT of the first 8 md5 hex chars), ng = total k-gram " +
        "count. DISTINCT wm per doc is the ~2/(w+1)-density fingerprint " +
        "set; any shared substring of length >= w+k-1 shares a " +
        "fingerprint. k and w must be INT literals.",
      "    Examples:\n      > SELECT count(*) FROM (SELECT winnow_fingerprints('abcdefghijklmnop', 8, 4));\n       6"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 3,
        s"winnow_fingerprints expects (text, k, w), got ${children.length} arguments")
      def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
                 what: String): Int = e match {
        case l if l.foldable && l.dataType == org.apache.spark.sql.types.IntegerType =>
          l.eval().asInstanceOf[Int]
        case other => throw new IllegalArgumentException(
          s"winnow_fingerprints: $what must be an INT literal, got $other")
      }
      WinnowGenerator(children(0), intLit(children(1), "k"), intLit(children(2), "w"))
    })

  private val pairCombosFn = (
    new FunctionIdentifier("pair_combos"),
    info(classOf[PairCombosGenerator], "pair_combos",
      "pair_combos(arr) - Generator: all C(n,2) index-ordered element " +
        "pairs (p, q) of an ARRAY<BIGINT> — the wedge-enumeration " +
        "primitive for common-neighbor scoring. Pass a sort_array'd " +
        "input for value-ordered (p < q) pairs. Lazy emission: pairs " +
        "stream into the consuming pipeline.",
      "    Examples:\n      > SELECT pair_combos(array(1L, 2L, 3L));\n       (1,2)\n       (1,3)\n       (2,3)"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 1,
        s"pair_combos expects (arr), got ${children.length} arguments")
      PairCombosGenerator(children(0))
    })

  private val hllRegisterAggFn = (
    new FunctionIdentifier("hll_register_agg"),
    info(classOf[graft.functions.HllRegisterAgg], "hll_register_agg",
      "hll_register_agg(key) - Native TypedImperativeAggregate: the " +
        "64-register HyperLogLog sketch of the STRING key column as " +
        "ARRAY<BIGINT>. Bit-compatible with the md5 register rule of the " +
        "composed sketch queries; registers merge by elementwise max " +
        "(partial buffers collapse map-side).",
      "    Examples:\n      > SELECT size(hll_register_agg(CAST(x AS STRING))) FROM t;\n       64"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 1,
        s"hll_register_agg expects exactly 1 argument, got ${children.length}")
      graft.functions.HllRegisterAgg(children.head)
    })

  private val hilbertIndexFn = (
    new FunctionIdentifier("hilbert_index"),
    info(classOf[HilbertExpression], "hilbert_index",
      "hilbert_index(x, y, order) - Hilbert-curve index of (x, y) over " +
        "the low `order` bits of each INT input (order an INT literal in " +
        "[1, 16]). Every curve step is an orthogonal neighbor, so sorting " +
        "by it clusters BOTH dimensions strictly tighter than the Z-order " +
        "interleave at quadrant seams — the stronger file-layout key.",
      "    Examples:\n      > SELECT hilbert_index(1, 0, 4);\n       1"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 3,
        s"hilbert_index expects (x, y, order), got ${children.length} arguments")
      val order = children(2) match {
        case e if e.foldable &&
            e.dataType == org.apache.spark.sql.types.IntegerType =>
          e.eval().asInstanceOf[Int]
        case other => throw new IllegalArgumentException(
          s"hilbert_index: order must be an INT literal, got $other")
      }
      HilbertExpression(children(0), children(1), order)
    })

  private val kmvAggFn = (
    new FunctionIdentifier("kmv_agg"),
    info(classOf[graft.functions.KmvAgg], "kmv_agg",
      "kmv_agg(key) - Native TypedImperativeAggregate: the k=64 minimum " +
        "distinct md5-derived 32-bit hash values of the STRING key " +
        "column, sorted ascending, as ARRAY<BIGINT>. The KMV cardinality " +
        "sketch: D ~ (k-1)*2^32/h_k; buffers merge by sorted-union " +
        "truncate (map-side partials, <= k longs per partition).",
      "    Examples:\n      > SELECT size(kmv_agg(CAST(x AS STRING))) FROM t;\n       64"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 1,
        s"kmv_agg expects exactly 1 argument, got ${children.length}")
      graft.functions.KmvAgg(children.head)
    })

  private val jaroWinklerFn = (
    new FunctionIdentifier("jaro_winkler"),
    info(classOf[JaroWinklerExpression], "jaro_winkler",
      "jaro_winkler(a, b) - DuckDB-bit-compatible Jaro-Winkler similarity " +
        "in [0, 1]: clamped match window, floored transposition count, " +
        "empty input -> 0, prefix boost (<= 4 chars, weight 0.1) only " +
        "above Jaro 0.7. The fuzzy-alignment scoring kernel.",
      "    Examples:\n      > SELECT jaro_winkler('martha', 'marhta');\n       0.9611111111111111"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 2,
        s"jaro_winkler expects (a, b), got ${children.length} arguments")
      JaroWinklerExpression(children(0), children(1))
    })

  private val ivecDotFn = (
    new FunctionIdentifier("ivec_dot"),
    info(classOf[IntVecDotExpression], "ivec_dot",
      "ivec_dot(a, b) - Native codegen'd dot product of two ARRAY<BIGINT> " +
        "vectors: one fused primitive loop (the higher-order spelling " +
        "aggregate(zip_with(...)) is CodegenFallback - interpreted " +
        "lambdas plus an intermediate array). Mismatched lengths or null " +
        "elements yield NULL, matching the composed semantics. The exact " +
        "quantized-cosine kernel of the ANN family.",
      "    Examples:\n      > SELECT ivec_dot(array(1L, 2L), array(3L, 4L));\n       11"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 2,
        s"ivec_dot expects (a, b), got ${children.length} arguments")
      IntVecDotExpression(children(0), children(1))
    })

  private val ivecSqDistFn = (
    new FunctionIdentifier("ivec_sqdist"),
    info(classOf[IntVecSqDistExpression], "ivec_sqdist",
      "ivec_sqdist(a, b) - Native codegen'd squared Euclidean distance of " +
        "two ARRAY<BIGINT> vectors (one fused primitive loop; the k-means " +
        "/ IVF assignment kernel). Mismatched lengths or null elements " +
        "yield NULL, matching the composed higher-order spelling.",
      "    Examples:\n      > SELECT ivec_sqdist(array(1L, 2L), array(3L, 4L));\n       8"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 2,
        s"ivec_sqdist expects (a, b), got ${children.length} arguments")
      IntVecSqDistExpression(children(0), children(1))
    })

  private val damerauLevFn = (
    new FunctionIdentifier("damerau_lev"),
    info(classOf[DamerauLevExpression], "damerau_lev",
      "damerau_lev(a, b) - FULL (unrestricted) Damerau-Levenshtein " +
        "distance: insert/delete/substitute/adjacent-transpose each cost " +
        "1, edits allowed between the transposed pair. " +
        "damerau_lev('ca', 'abc') = 2 (OSA would answer 3).",
      "    Examples:\n      > SELECT damerau_lev('ca', 'abc');\n       2"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 2,
        s"damerau_lev expects (a, b), got ${children.length} arguments")
      DamerauLevExpression(children(0), children(1))
    })

  /** Imperative registration for an existing session (tests, REPL). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      keptTokensFn._1, keptTokensFn._2, keptTokensFn._3)
    spark.sessionState.functionRegistry.registerFunction(
      keepTokenFn._1, keepTokenFn._2, keepTokenFn._3)
    spark.sessionState.functionRegistry.registerFunction(
      hllRegisterAggFn._1, hllRegisterAggFn._2, hllRegisterAggFn._3)
    spark.sessionState.functionRegistry.registerFunction(
      hilbertIndexFn._1, hilbertIndexFn._2, hilbertIndexFn._3)
    spark.sessionState.functionRegistry.registerFunction(
      encodeWordFn._1, encodeWordFn._2, encodeWordFn._3)
    spark.sessionState.functionRegistry.registerFunction(
      levWithinFn._1, levWithinFn._2, levWithinFn._3)
    spark.sessionState.functionRegistry.registerFunction(
      interleaveBitsFn._1, interleaveBitsFn._2, interleaveBitsFn._3)
    spark.sessionState.functionRegistry.registerFunction(
      charShinglesFn._1, charShinglesFn._2, charShinglesFn._3)
    spark.sessionState.functionRegistry.registerFunction(
      winnowFingerprintsFn._1, winnowFingerprintsFn._2, winnowFingerprintsFn._3)
    spark.sessionState.functionRegistry.registerFunction(
      pairCombosFn._1, pairCombosFn._2, pairCombosFn._3)
    spark.sessionState.functionRegistry.registerFunction(
      kmvAggFn._1, kmvAggFn._2, kmvAggFn._3)
    spark.sessionState.functionRegistry.registerFunction(
      jaroWinklerFn._1, jaroWinklerFn._2, jaroWinklerFn._3)
    spark.sessionState.functionRegistry.registerFunction(
      damerauLevFn._1, damerauLevFn._2, damerauLevFn._3)
    spark.sessionState.functionRegistry.registerFunction(
      ivecDotFn._1, ivecDotFn._2, ivecDotFn._3)
    spark.sessionState.functionRegistry.registerFunction(
      ivecSqDistFn._1, ivecSqDistFn._2, ivecSqDistFn._3)
    if (!spark.experimental.extraOptimizations.contains(EncodeWordSimplification))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ EncodeWordSimplification
    if (!spark.experimental.extraOptimizations.contains(SummaryRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SummaryRewrite
    useStrategy(spark, TopKStrategy)
    useStrategy(spark, TokenCountsStrategy)
  }

  /** Adds `strategy` to the session's planner unless it is there already:
    * how a native logical node plans on a session built without
    * `spark.sql.extensions`. */
  def useStrategy(spark: SparkSession, strategy: SparkStrategy): Unit =
    if (!spark.experimental.extraStrategies.contains(strategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ strategy

  /** Column API over the registered function. */
  def encode_word(c: Column): Column = call_function("encode_word", c)
}
