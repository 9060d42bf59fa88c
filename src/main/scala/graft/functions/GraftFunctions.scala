package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, XxHash64}
import org.apache.spark.sql.functions.call_function

/** Registration + Column-API surface for the engine's native expressions.
  *
  * Two paths, same expressions:
  *  - [[register]]: runtime temp-function registration (used by the
  *    engine itself — works on any session the driver hands us);
  *  - [[GraftExtensions]]: a SparkSessionExtensions installer for users
  *    who configure `spark.sql.extensions=graft.functions.GraftExtensions`
  *    and want the functions in plain SQL from session start.
  */
object GraftFunctions {

  /** Optional literal-int args select k (and bands); bare calls get the
    * defaults. Arity errors surface as IllegalArgumentException at
    * analysis, not a bare NoSuchElementException.
    */
  private def intArg(exprs: Seq[Expression], i: Int, default: Int): Int =
    if (exprs.length > i) exprs(i).eval().asInstanceOf[Number].intValue else default

  private def arg0(name: String, exprs: Seq[Expression]): Expression = {
    require(exprs.nonEmpty, s"$name requires at least one argument (the shingle array)")
    exprs.head
  }

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_minhash" -> (exprs =>
      MinHashSignature(arg0("graft_minhash", exprs), intArg(exprs, 1, 64))),
    "graft_minhash_bands" -> (exprs =>
      MinHashBands(arg0("graft_minhash_bands", exprs),
        intArg(exprs, 1, 64), intArg(exprs, 2, 16))),
    "graft_dot" -> (exprs => {
      require(exprs.length == 2, "graft_dot requires exactly two array<double> arguments")
      DotProduct(exprs(0), exprs(1))
    }),
    // Catalyst's native bloom-probe (the expression behind runtime join
    // filters), fed the same XxHash64 the build side put in. The bloom
    // argument must be foldable (a literal) — BloomFilterMightContain
    // enforces that itself at analysis.
    "graft_might_contain" -> (exprs => {
      require(exprs.length == 2,
        "graft_might_contain requires (bloom binary, value) arguments")
      BloomFilterMightContain(exprs(0), new XxHash64(Seq(exprs(1))))
    }),
    "graft_sorted_intersect_count" -> (exprs => {
      require(exprs.length == 2,
        "graft_sorted_intersect_count requires exactly two array<bigint> arguments")
      SortedIntersectCount(exprs(0), exprs(1))
    }),
    "graft_nearest_cell" -> (exprs => {
      require(exprs.length == 3,
        "graft_nearest_cell requires (vector, cell-ids literal, matrix literal)")
      NearestCell(exprs(0), exprs(1), exprs(2))
    }),
    "graft_nearest_cell_dist" -> (exprs => {
      require(exprs.length == 3,
        "graft_nearest_cell_dist requires (vector, cell-ids literal, matrix literal)")
      NearestCellDist(exprs(0), exprs(1), exprs(2))
    }),
    "graft_pairs" -> (exprs => {
      require(exprs.length == 1, "graft_pairs requires one array argument")
      ArrayPairs(exprs(0))
    }),
    "graft_mmr" -> (exprs => {
      require(exprs.length == 3,
        "graft_mmr requires (cands array, sims array, k literal)")
      MmrSelect(exprs(0), exprs(1), exprs(2))
    }),
    "graft_word_grams" -> (exprs => {
      require(exprs.length == 2,
        "graft_word_grams requires (words array<string>, n literal)")
      WordGrams(exprs(0), exprs(1))
    }),
    "graft_pcm16_frames" -> (exprs => {
      require(exprs.length == 2,
        "graft_pcm16_frames requires (media binary, frameSamples literal)")
      Pcm16Frames(exprs(0), exprs(1))
    }),
    "graft_pcm16_zcr" -> (exprs => {
      require(exprs.length == 1, "graft_pcm16_zcr requires (media binary)")
      Pcm16Zcr(exprs(0))
    }),
    "graft_pcm16_delta" -> (exprs => {
      require(exprs.length == 1, "graft_pcm16_delta requires (media binary)")
      Pcm16Delta(exprs(0))
    }),
    "graft_moment_pairs" -> (exprs => {
      require(exprs.length == 1,
        "graft_moment_pairs requires one array<double> argument")
      MomentPairs(exprs(0))
    }),
    "graft_sqdist_dec" -> (exprs => {
      require(exprs.length == 2,
        "graft_sqdist_dec requires (vector, centroid matrix literal)")
      SqDistDecimal(exprs(0), exprs(1))
    }))

  // one registration per session (r16): register() is called from every
  // df-level operator, so it must be a cheap no-op after the first call —
  // the udaf() line in particular re-derived the Aggregator encoders via
  // reflection on every invocation (measured as a per-query-build cost
  // once WordGrams made the calls frequent). Weak keys: a stopped
  // session's entry is GC'd.
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): Unit = synchronized {
    if (!registered.contains(spark)) {
      builders.foreach { case (name, builder) =>
        spark.sessionState.functionRegistry
          .createOrReplaceTempFunction(name, builder, "built-in")
      }
      // typed Aggregator UDAF (udf registry, not the expression registry)
      spark.udf.register("graft_wmean",
        org.apache.spark.sql.functions.udaf(WeightedMean))
      registered.add(spark)
    }
  }

  private[functions] def builderFor(name: String): Seq[Expression] => Expression =
    builders.find(_._1 == name).get._2

  /** Column API: 64-permutation MinHash signature of a shingle array. */
  def minhashSignature(shingles: Column)(implicit spark: SparkSession): Column = {
    register(spark)
    call_function("graft_minhash", shingles)
  }

  /** Column API: 16 LSH band-bucket hashes of a shingle array. */
  def minhashBands(shingles: Column)(implicit spark: SparkSession): Column = {
    register(spark)
    call_function("graft_minhash_bands", shingles)
  }

  /** Column API: native dot product of two array<double> columns. */
  def dotProduct(a: Column, b: Column)(implicit spark: SparkSession): Column = {
    register(spark)
    call_function("graft_dot", a, b)
  }
}

/** `spark.sql.extensions` installer. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // Optimizer rules (conf-gated, inert by default) — injected into the
    // operator-optimization batch, so unlike the runtime `install` path
    // this also catches distinct aggregates before Catalyst's
    // RewriteDistinctAggregates expands multi-distinct plans.
    e.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
    e.injectOptimizerRule(_ => graft.plans.ApproxPercentileRewrite)
    e.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      GraftFunctions.builderFor("graft_minhash")))
    e.injectFunction((
      FunctionIdentifier("graft_minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, "graft_minhash_bands"),
      GraftFunctions.builderFor("graft_minhash_bands")))
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      GraftFunctions.builderFor("graft_dot")))
    e.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_might_contain"),
      GraftFunctions.builderFor("graft_might_contain")))
  }
}
