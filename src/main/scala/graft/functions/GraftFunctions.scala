package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal, XxHash64}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.graft.NativeColumn

/** The engine's native expressions, as Columns and as SQL functions.
  *
  * Engine code builds every kernel through the typed Column constructors
  * below: each one puts the expression itself into the plan (through
  * [[org.apache.spark.sql.graft.NativeColumn]]), so it resolves on the
  * session of whatever DataFrame uses it, with no registration and no
  * active session. The analyzed expression is the same case class the
  * SQL builder produces, so a Column and its SQL call plan identically.
  *
  * SQL text reaches the same expressions by name, from one builder table:
  *  - [[register]] installs every `graft_*` name (and the `graft_wmean`
  *    UDAF) as temp functions on one session;
  *  - [[GraftExtensions]] injects the same table for users who configure
  *    `spark.sql.extensions=graft.functions.GraftExtensions`.
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

  /** name -> (the expression class it builds, its SQL builder). */
  private[functions] val builders
      : Seq[(String, (Class[_ <: Expression], Seq[Expression] => Expression))] = Seq(
    "graft_minhash" -> (classOf[MinHashSignature], exprs =>
      MinHashSignature(arg0("graft_minhash", exprs), intArg(exprs, 1, 64))),
    "graft_minhash_bands" -> (classOf[MinHashBands], exprs =>
      MinHashBands(arg0("graft_minhash_bands", exprs),
        intArg(exprs, 1, 64), intArg(exprs, 2, 16))),
    "graft_dot" -> (classOf[DotProduct], exprs => {
      require(exprs.length == 2, "graft_dot requires exactly two array<double> arguments")
      DotProduct(exprs(0), exprs(1))
    }),
    // Catalyst's native bloom-probe (the expression behind runtime join
    // filters), fed the same XxHash64 the build side put in. The bloom
    // argument must be foldable (a literal) — BloomFilterMightContain
    // enforces that itself at analysis.
    "graft_might_contain" -> (classOf[BloomFilterMightContain], exprs => {
      require(exprs.length == 2,
        "graft_might_contain requires (bloom binary, value) arguments")
      BloomFilterMightContain(exprs(0), new XxHash64(Seq(exprs(1))))
    }),
    "graft_sorted_intersect_count" -> (classOf[SortedIntersectCount], exprs => {
      require(exprs.length == 2,
        "graft_sorted_intersect_count requires exactly two array<bigint> arguments")
      SortedIntersectCount(exprs(0), exprs(1))
    }),
    "graft_nearest_cell" -> (classOf[NearestCell], exprs => {
      require(exprs.length == 3,
        "graft_nearest_cell requires (vector, cell-ids literal, matrix literal)")
      NearestCell(exprs(0), exprs(1), exprs(2))
    }),
    "graft_nearest_cell_dist" -> (classOf[NearestCellDist], exprs => {
      require(exprs.length == 3,
        "graft_nearest_cell_dist requires (vector, cell-ids literal, matrix literal)")
      NearestCellDist(exprs(0), exprs(1), exprs(2))
    }),
    "graft_pairs" -> (classOf[ArrayPairs], exprs => {
      require(exprs.length == 1, "graft_pairs requires one array argument")
      ArrayPairs(exprs(0))
    }),
    "graft_mmr" -> (classOf[MmrSelect], exprs => {
      require(exprs.length == 3,
        "graft_mmr requires (cands array, sims array, k literal)")
      MmrSelect(exprs(0), exprs(1), exprs(2))
    }),
    "graft_word_grams" -> (classOf[WordGrams], exprs => {
      require(exprs.length == 2,
        "graft_word_grams requires (words array<string>, n literal)")
      WordGrams(exprs(0), exprs(1))
    }),
    "graft_pcm16_frames" -> (classOf[Pcm16Frames], exprs => {
      require(exprs.length == 2,
        "graft_pcm16_frames requires (media binary, frameSamples literal)")
      Pcm16Frames(exprs(0), exprs(1))
    }),
    "graft_pcm16_zcr" -> (classOf[Pcm16Zcr], exprs => {
      require(exprs.length == 1, "graft_pcm16_zcr requires (media binary)")
      Pcm16Zcr(exprs(0))
    }),
    "graft_pcm16_delta" -> (classOf[Pcm16Delta], exprs => {
      require(exprs.length == 1, "graft_pcm16_delta requires (media binary)")
      Pcm16Delta(exprs(0))
    }),
    "graft_moment_pairs" -> (classOf[MomentPairs], exprs => {
      require(exprs.length == 1,
        "graft_moment_pairs requires one array<double> argument")
      MomentPairs(exprs(0))
    }),
    "graft_sqdist_dec" -> (classOf[SqDistDecimal], exprs => {
      require(exprs.length == 2,
        "graft_sqdist_dec requires (vector, centroid matrix literal)")
      SqDistDecimal(exprs(0), exprs(1))
    }))

  /** Installs every `graft_*` name on `spark` so SQL text can call it.
    * Engine code never needs this: it uses the Column constructors.
    */
  def register(spark: SparkSession): Unit = {
    builders.foreach { case (name, (_, builder)) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    // typed Aggregator UDAF (udf registry, not the expression registry)
    spark.udf.register("graft_wmean", weightedMean)
  }

  /** `k`-permutation MinHash signature of a shingle array. */
  def minhashSignature(shingles: Column, k: Int): Column =
    NativeColumn(shingles)(e => MinHashSignature(e(0), k))

  /** 16 LSH band-bucket hashes of a shingle array's 64-hash signature. */
  def minhashBands(shingles: Column): Column =
    NativeColumn(shingles)(e => MinHashBands(e(0), 64, 16))

  /** Dot product of two array<double> columns (left-to-right fold). */
  def dotProduct(a: Column, b: Column): Column =
    NativeColumn(a, b)(e => DotProduct(e(0), e(1)))

  /** Bloom-filter probe of `value`'s XxHash64; `bloom` must be a literal. */
  def mightContain(bloom: Column, value: Column): Column =
    NativeColumn(bloom, value)(e => BloomFilterMightContain(e(0), new XxHash64(Seq(e(1)))))

  /** Count of distinct common elements of two sorted arrays (one merge). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    NativeColumn(a, b)(e => SortedIntersectCount(e(0), e(1)))

  /** Id of the nearest matrix row to `vec`; `ids` and `matrix` are literals. */
  def nearestCell(vec: Column, ids: Column, matrix: Column): Column =
    NativeColumn(vec, ids, matrix)(e => NearestCell(e(0), e(1), e(2)))

  /** Squared distance to the nearest matrix row (twin of [[nearestCell]]). */
  def nearestCellDist(vec: Column, ids: Column, matrix: Column): Column =
    NativeColumn(vec, ids, matrix)(e => NearestCellDist(e(0), e(1), e(2)))

  /** Every ordered (src, dst) pair of an array's distinct-valued elements. */
  def arrayPairs(items: Column): Column =
    NativeColumn(items)(e => ArrayPairs(e(0)))

  /** Greedy MMR pick of `k` from one query's candidates and their sims. */
  def mmrSelect(cands: Column, sims: Column, k: Int): Column =
    NativeColumn(cands, sims)(e => MmrSelect(e(0), e(1), Literal(k)))

  /** Positional word `n`-grams of a words array. */
  def wordGrams(words: Column, n: Int): Column =
    NativeColumn(words)(e => WordGrams(e(0), Literal(n)))

  /** Per-frame (frame, n, Σs²) of a 16-bit PCM WAV byte stream. */
  def pcm16Frames(media: Column, frameSamples: Int): Column =
    NativeColumn(media)(e => Pcm16Frames(e(0), Literal(frameSamples)))

  /** Per-clip mean-crossing count of a 16-bit PCM WAV byte stream. */
  def pcm16Zcr(media: Column): Column =
    NativeColumn(media)(e => Pcm16Zcr(e(0)))

  /** Per-clip successive-difference stats of a 16-bit PCM WAV byte stream. */
  def pcm16Delta(media: Column): Column =
    NativeColumn(media)(e => Pcm16Delta(e(0)))

  /** First moments (j, 0, xⱼ) then upper-triangle products (j, k, xⱼ·xₖ). */
  def momentPairs(vec: Column): Column =
    NativeColumn(vec)(e => MomentPairs(e(0)))

  /** Squared distances from `vec` to every row of a literal matrix. */
  def sqDistDecimal(vec: Column, matrix: Column): Column =
    NativeColumn(vec, matrix)(e => SqDistDecimal(e(0), e(1)))

  /** Exact-decimal weighted mean UDAF: `weightedMean(x, w)`. */
  val weightedMean: UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(WeightedMean).withName("graft_wmean")
}

/** `spark.sql.extensions` installer: the optimizer rules plus every
  * builder-table function of [[GraftFunctions.register]]. `graft_wmean`
  * is a udf-registry UDAF, which extensions cannot inject, so it stays
  * `register`-only.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // Optimizer rules (conf-gated, inert by default) — injected into the
    // operator-optimization batch, so unlike the runtime `install` path
    // this also catches distinct aggregates before Catalyst's
    // RewriteDistinctAggregates expands multi-distinct plans.
    e.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
    e.injectOptimizerRule(_ => graft.plans.ApproxPercentileRewrite)
    GraftFunctions.builders.foreach { case (name, (cls, builder)) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
  }
}
