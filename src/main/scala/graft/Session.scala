package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.functions.{CmsSketchAgg, CosineSimilarity, DotProduct, KmvSketchAgg, LshCodes}

/** The engine's one session factory ([[local]]) and its one registration
  * path ([[install]]). Every main, the MCP server and the test session
  * build through [[local]]; driver-provided sessions get the same engine
  * through `Tables.register`, which calls [[install]]. So benched,
  * verified, served and tested plans all see one optimizer, one strategy
  * set and one function registry. */
object Session {

  /** Every engine-native SQL function, as `(name, info, builder)`. */
  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("cosine_similarity", CosineSimilarity.info, c => CosineSimilarity(c.head, c(1))),
    fn("dot_product", DotProduct.info, c => DotProduct(c.head, c(1))),
    fn("lsh_codes", LshCodes.info, LshCodes.builder),
    // Spark's own bloom-filter expressions: the runtime bloom-filter join
    // pruning rule injects them internally, but Spark does not register them
    // in the public FunctionRegistry. Exposed for the manual bloom-prefiltered
    // semi-join (q310: build the filter over the selective build side, cut
    // probe-side shuffle volume BEFORE the join) as
    // `bloom_filter_agg(xxhash64(k)[, est_items[, num_bits]])` and
    // `might_contain(filter, xxhash64(k))` — the optimizer's own expressions,
    // so codegen and partial/merge aggregation come for free.
    fn("bloom_filter_agg",
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_filter_agg"), {
        case Seq(c)       => new BloomFilterAggregate(c)
        case Seq(c, n)    => new BloomFilterAggregate(c, n)
        case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
        case other => throw new IllegalArgumentException(
          s"bloom_filter_agg expects 1-3 arguments, got ${other.size}")
      }),
    fn("might_contain",
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "might_contain"), {
        case Seq(f, v) => BloomFilterMightContain(f, v)
        case other => throw new IllegalArgumentException(
          s"might_contain expects 2 arguments, got ${other.size}")
      }),
    fn("kmv_agg", KmvSketchAgg.info, KmvSketchAgg.builder),
    fn("cms_agg", CmsSketchAgg.info, CmsSketchAgg.builder))

  private def fn(name: String, info: ExpressionInfo, build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info, build)

  /** A local-mode session with the engine's settings, [[install]]ed, on
    * `SPARK_GRAFT_CPUS` cores (default: every core of the host). */
  def local(appName: String): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ContextCleaner only reclaims shuffle files/metadata after the owning
      // RDD is GC'd; its default periodic-GC interval is 30 min, longer than
      // a whole bench run, so hundreds of per-query shuffles accumulate and
      // degrade the tail of the suite. Force a driver GC every minute.
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
    spark
  }

  /** Idempotent: registers [[functions]] (a name the session already
    * resolves is left alone) and adds the as-of join strategy and the
    * binned-range-join rule (inert until `spark.graft.rangeJoin.binWidth` is
    * set). Sets no conf, so a caller's session settings stay its own.
    * Synchronized: concurrent callers share one `experimental`. */
  def install(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
    }
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ graft.plans.AsOfJoinStrategy
    if (!exp.extraOptimizations.contains(graft.plans.BinnedRangeJoinRule))
      exp.extraOptimizations = exp.extraOptimizations :+ graft.plans.BinnedRangeJoinRule
  }
}
