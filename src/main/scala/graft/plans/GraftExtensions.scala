package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types.IntegerType

/** Session extension: the one route by which graft's native expressions get
  * SQL names (`spark.sql`, `expr`, `DESCRIBE FUNCTION`), plus its optimizer
  * rules, planner strategies and the GRAFT TOPK parser. Install it at
  * session build with `spark.sql.extensions=graft.plans.GraftExtensions`
  * (`Sessions.build` does). The Column API needs no registered name: the
  * helpers in `operators/` and `functions/` build their expression node
  * directly, on any session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => EncodeWordSimplification)
    ext.injectOptimizerRule(_ => SummaryRewrite)
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectPlannerStrategy(_ => TokenCountsStrategy)
    // the GRAFT TOPK dialect: the parser is baked into sessionState when the
    // session is built, so only a built-in extension can supply it
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
  }
}

object GraftExtensions {
  /** The arguments of one SQL call, as a function's builder reads them. */
  private final class Args(name: String, params: Seq[String], exprs: Seq[Expression]) {
    def apply(i: Int): Expression = exprs(i)

    /** Argument `i` as an INT literal: a constant of the kernel, not a column. */
    def int(i: Int): Int = exprs(i) match {
      case e if e.foldable && e.dataType == IntegerType => e.eval().asInstanceOf[Int]
      case other => throw new IllegalArgumentException(
        s"$name: ${params(i)} must be an INT literal, got $other")
    }
  }

  /** One SQL function: its name, its `DESCRIBE FUNCTION` text (usage
    * `name(params) - doc`, then one example and its result), and a builder
    * that checks the argument count before `build` reads the arguments. */
  private def fn(name: String, clazz: Class[_], params: Seq[String], doc: String,
                 example: String, result: String)(build: Args => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = {
    val usage = s"$name(${params.mkString(", ")}) - $doc"
    val examples = s"\n    Examples:\n      > $example\n       " +
      result.replace("\n", "\n       ") + "\n  "
    val info = new ExpressionInfo(clazz.getName, null, name, usage, "", examples,
      "", "misc_funcs", "4.0.0", "", "built-in")
    (FunctionIdentifier(name), info, children => {
      require(children.length == params.length,
        s"$name expects (${params.mkString(", ")}), got ${children.length} argument(s)")
      build(new Args(name, params, children))
    })
  }

  private val functions = Seq(
    fn("kept_tokens", classOf[KeptTokens], Seq("text"),
      "The word count's map phase: the tokens of text split on the reference " +
        "delimiter class that pass the keep rule (lowercase has a char in " +
        "backtick..z), in order, as one scan.",
      "SELECT kept_tokens('The 42 c°te');", "[\"The\",\"c\",\"te\"]")(a => KeptTokens(a(0))),
    fn("keep_token", classOf[KeepToken], Seq("word"),
      "The word count's keep rule on one token: true iff lower(word) has a " +
        "char in backtick..z.",
      "SELECT keep_token('42');", "false")(a => KeepToken(a(0))),
    fn("encode_word", classOf[EncodeWordExpression], Seq("word"),
      "Returns the reference engine's positional-alphabetic encoding: each " +
        "char in backtick..z maps to its zero-padded 2-digit code " +
        "(backtick=00..z=26), others are skipped; empty result = token " +
        "dropped by the keep-rule.",
      "SELECT encode_word('ab');", "0102")(a => EncodeWordExpression(a(0))),
    fn("lev_within", classOf[LevWithinExpression], Seq("a", "b", "k"),
      "Banded Levenshtein: the edit distance of a and b if it is <= k, else " +
        "k+1, in O(k*len) time and O(len) space (k must be an INT literal). " +
        "The fuzzy-join verify kernel.",
      "SELECT lev_within('kitten', 'sitting', 3);", "3") { a =>
      val k = a.int(2)
      require(k >= 0, s"lev_within: k must be non-negative, got $k")
      LevWithinExpression(a(0), a(1), k)
    },
    fn("interleave_bits", classOf[InterleaveBitsExpression], Seq("x", "y"),
      "Morton (Z-order) interleave of two 32-bit non-negative ints: x's bit i " +
        "lands at position 2i, y's at 2i+1. Sorting by the result co-locates " +
        "rows close in BOTH dimensions (min/max file skipping on either column).",
      "SELECT interleave_bits(1, 0);", "1")(a => InterleaveBitsExpression(a(0), a(1))),
    fn("char_shingles", classOf[ShingleGenerator], Seq("text", "k", "stride"),
      "Generator: one row per sampled character k-gram of text (codepoint " +
        "positions 0, stride, 2*stride, ...; k and stride must be INT " +
        "literals). Strings shorter than k emit no rows. The dedup-pipeline " +
        "shingler as a native UDTF.",
      "SELECT char_shingles('abcd', 3, 1);", "abc\nbcd")(a =>
      ShingleGenerator(a(0), a.int(1), a.int(2))),
    fn("winnow_fingerprints", classOf[WinnowGenerator], Seq("text", "k", "w"),
      "Generator: MOSS winnowing over text. Emits (i, wm, ng) per full " +
        "w-window of character k-gram md5 hashes: i = 1-based window start, " +
        "wm = the window's minimum hash (BIGINT of the first 8 md5 hex " +
        "chars), ng = total k-gram count. DISTINCT wm per doc is the " +
        "~2/(w+1)-density fingerprint set; any shared substring of length " +
        ">= w+k-1 shares a fingerprint. k and w must be INT literals.",
      "SELECT count(*) FROM (SELECT winnow_fingerprints('abcdefghijklmnop', 8, 4));",
      "6")(a => WinnowGenerator(a(0), a.int(1), a.int(2))),
    fn("pair_combos", classOf[PairCombosGenerator], Seq("arr"),
      "Generator: all C(n,2) index-ordered element pairs (p, q) of an " +
        "ARRAY<BIGINT> — the wedge-enumeration primitive for common-neighbor " +
        "scoring. Pass a sort_array'd input for value-ordered (p < q) pairs. " +
        "Lazy emission: pairs stream into the consuming pipeline.",
      "SELECT pair_combos(array(1L, 2L, 3L));", "(1,2)\n(1,3)\n(2,3)")(a =>
      PairCombosGenerator(a(0))),
    fn("hll_register_agg", classOf[graft.functions.HllRegisterAgg], Seq("key"),
      "Native TypedImperativeAggregate: the 64-register HyperLogLog sketch of " +
        "the STRING key column as ARRAY<BIGINT>. Bit-compatible with the md5 " +
        "register rule of the composed sketch queries; registers merge by " +
        "elementwise max (partial buffers collapse map-side).",
      "SELECT size(hll_register_agg(CAST(x AS STRING))) FROM t;", "64")(a =>
      graft.functions.HllRegisterAgg(a(0))),
    fn("hilbert_index", classOf[HilbertExpression], Seq("x", "y", "order"),
      "Hilbert-curve index of (x, y) over the low `order` bits of each INT " +
        "input (order an INT literal in [1, 16]). Every curve step is an " +
        "orthogonal neighbor, so sorting by it clusters BOTH dimensions " +
        "strictly tighter than the Z-order interleave at quadrant seams — " +
        "the stronger file-layout key.",
      "SELECT hilbert_index(1, 0, 4);", "1")(a => HilbertExpression(a(0), a(1), a.int(2))),
    fn("kmv_agg", classOf[graft.functions.KmvAgg], Seq("key"),
      "Native TypedImperativeAggregate: the k=64 minimum distinct md5-derived " +
        "32-bit hash values of the STRING key column, sorted ascending, as " +
        "ARRAY<BIGINT>. The KMV cardinality sketch: D ~ (k-1)*2^32/h_k; " +
        "buffers merge by sorted-union truncate (map-side partials, <= k " +
        "longs per partition).",
      "SELECT size(kmv_agg(CAST(x AS STRING))) FROM t;", "64")(a =>
      graft.functions.KmvAgg(a(0))),
    fn("jaro_winkler", classOf[JaroWinklerExpression], Seq("a", "b"),
      "DuckDB-bit-compatible Jaro-Winkler similarity in [0, 1]: clamped match " +
        "window, floored transposition count, empty input -> 0, prefix boost " +
        "(<= 4 chars, weight 0.1) only above Jaro 0.7. The fuzzy-alignment " +
        "scoring kernel.",
      "SELECT jaro_winkler('martha', 'marhta');", "0.9611111111111111")(a =>
      JaroWinklerExpression(a(0), a(1))),
    fn("ivec_dot", classOf[IntVecDotExpression], Seq("a", "b"),
      "Native codegen'd dot product of two ARRAY<BIGINT> vectors: one fused " +
        "primitive loop (the higher-order spelling aggregate(zip_with(...)) " +
        "is CodegenFallback - interpreted lambdas plus an intermediate " +
        "array). Mismatched lengths or null elements yield NULL, matching the " +
        "composed semantics. The exact quantized-cosine kernel of the ANN family.",
      "SELECT ivec_dot(array(1L, 2L), array(3L, 4L));", "11")(a =>
      IntVecDotExpression(a(0), a(1))),
    fn("ivec_sqdist", classOf[IntVecSqDistExpression], Seq("a", "b"),
      "Native codegen'd squared Euclidean distance of two ARRAY<BIGINT> " +
        "vectors (one fused primitive loop; the k-means / IVF assignment " +
        "kernel). Mismatched lengths or null elements yield NULL, matching " +
        "the composed higher-order spelling.",
      "SELECT ivec_sqdist(array(1L, 2L), array(3L, 4L));", "8")(a =>
      IntVecSqDistExpression(a(0), a(1))),
    fn("damerau_lev", classOf[DamerauLevExpression], Seq("a", "b"),
      "FULL (unrestricted) Damerau-Levenshtein distance: insert/delete/" +
        "substitute/adjacent-transpose each cost 1, edits allowed between " +
        "the transposed pair. damerau_lev('ca', 'abc') = 2 (OSA would answer 3).",
      "SELECT damerau_lev('ca', 'abc');", "2")(a => DamerauLevExpression(a(0), a(1))))

  /** Adds `strategy` to the session's planner unless it is there already:
    * how a native logical node plans on a session built without
    * `spark.sql.extensions`. */
  def useStrategy(spark: SparkSession, strategy: SparkStrategy): Unit =
    if (!spark.experimental.extraStrategies.contains(strategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ strategy

  /** `encode_word(c)` as a Column ([[EncodeWordExpression]]). */
  def encode_word(c: Column): Column =
    GraftSqlShim.applyExpr(c) { case Seq(w) => EncodeWordExpression(w) }
}
