package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.sketches.{BloomBuildAgg, BloomMergeAgg, BloomMightContain, CmsBuildAgg, CmsEstimate, CmsMergeAgg}

/**
 * SQL-surface registration for the graft sketch functions, so
 * `spark.sql("SELECT bloom_agg(x, 1000, 0.01) FROM t")` works alongside
 * the Column API in [[graft.functions]], plus the engine's optimizer
 * rules and planner strategy.
 *
 * Three entry points:
 *  - the `SparkSessionExtensionsProvider` service entry
 *    (`META-INF/services`): Spark applies it to every session that
 *    `SparkSession.builder()` creates with this jar on the classpath, so
 *    plain user, benchmark and driver sessions all get it;
 *  - `withExtensions(new GraftExtensions)` at session build time, or
 *    `spark.sql.extensions=graft.GraftExtensions`;
 *  - [[Graft.register]] for an already-running session whose builder
 *    did not see this jar (functions only).
 * One builder can reach the first two together; the injections are made
 * once per `SparkSessionExtensions`, so no rule runs twice.
 */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit =
    if (GraftExtensions.applied.synchronized(GraftExtensions.applied.add(ext))) inject(ext)

  private def inject(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // Bloom semi-join prefilter (SURVEY.md §4/M6) — off until
    // spark.graft.bloomPrefilter.enabled=true. PreCBO placement: runs
    // ONCE after the operator-optimization fixpoint, so the injected
    // probe doesn't get re-derived by InferFiltersFromConstraints and
    // the rule never observes its own intermediate output (the same
    // reason Spark's InjectRuntimeFilter lives outside that batch).
    ext.injectPreCBORule(graft.plans.BloomSemiPrefilterRule)
    // range-join binning (SURVEY.md §4) — off until
    // spark.graft.rangeJoin.binSize is set > 0. Same Once placement and
    // the rule is additionally structurally idempotent, so attaching it
    // to a pre-built session via experimental.extraOptimizations
    // (Graft.enableRangeBinning) is also safe.
    ext.injectPreCBORule(graft.plans.RangeJoinBinningRule)
    // whole-operator next-fit packing (SURVEY.md §2j): the strategy is
    // also self-registered by PackOps.nextFitPack for extension-less
    // sessions; injecting it here covers plans built some other way
    ext.injectPlannerStrategy(_ => graft.operators.NextFitPackStrategy)
    // a sketch joined from a one-row side is probed as a task constant
    // (scalar subquery) instead of being copied into every row; runs in
    // the operator-optimization fixpoint so CollapseProject folds the
    // subquery into the probe
    ext.injectOptimizerRule(graft.plans.OneRowSketchJoinRule)
  }
}

object GraftExtensions {
  /** Extension sets already given the graft injections (weak keys: a set
    * lives as long as the sessions built from it). */
  private val applied = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSessionExtensions, java.lang.Boolean])

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  val registrations: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("bloom_agg",
      info("bloom_agg", "bloom_agg(col, expectedItems, fpp) - distributed Bloom filter build, returns BINARY"),
      (args: Seq[Expression]) => new BloomBuildAgg(args(0), args(1), args(2))
        .toAggregateExpression()),
    ("bloom_might_contain",
      info("bloom_might_contain", "bloom_might_contain(sketch, value) - membership probe, no false negatives"),
      (args: Seq[Expression]) => BloomMightContain(args(0), args(1))),
    ("cms_agg",
      info("cms_agg", "cms_agg(col, eps, confidence, seed) - distributed Count-Min sketch build, returns BINARY"),
      (args: Seq[Expression]) => new CmsBuildAgg(args(0), args(1), args(2), args(3))
        .toAggregateExpression()),
    ("cms_estimate",
      info("cms_estimate", "cms_estimate(sketch, value) - point frequency estimate, f <= est <= f + eps*N"),
      (args: Seq[Expression]) => CmsEstimate(args(0), args(1))),
    ("cms_merge_agg",
      info("cms_merge_agg", "cms_merge_agg(sketch) - merge serialized CMS columns (counter addition)"),
      (args: Seq[Expression]) => new CmsMergeAgg(args(0)).toAggregateExpression()),
    ("bloom_merge_agg",
      info("bloom_merge_agg", "bloom_merge_agg(sketch) - merge serialized Bloom filters (bitwise OR)"),
      (args: Seq[Expression]) => new BloomMergeAgg(args(0)).toAggregateExpression()),
    ("vec_dot_native",
      info("vec_dot_native", "vec_dot_native(a, b) - codegen'd dot product of float/double arrays"),
      (args: Seq[Expression]) => graft.functions.VecDot(args(0), args(1))),
    ("bitmap_agg",
      info("bitmap_agg", "bitmap_agg(pos) - 4KiB bitmap with bit pos set, OR-merged; byte-compatible with bitmap_construct_agg"),
      (args: Seq[Expression]) => graft.sketches.BitmapAgg(args(0))
        .toAggregateExpression()),
    ("topk_agg",
      info("topk_agg", "topk_agg(score, id, k) - bounded top-k rows per group as array<struct<score,id>>, (score desc, id asc)"),
      (args: Seq[Expression]) => graft.sketches.TopKAgg(args(0), args(1), args(2))
        .toAggregateExpression()),
    ("vec_quantize_i8",
      info("vec_quantize_i8", "vec_quantize_i8(arr, scale) - int8 codes as BINARY: clamp(round(x*scale), -127, 127)"),
      (args: Seq[Expression]) => graft.functions.VecQuantizeI8(args(0), args(1))),
    ("vec_dot_i8",
      info("vec_dot_i8", "vec_dot_i8(a, b) - exact BIGINT dot product of int8 code vectors"),
      (args: Seq[Expression]) => graft.functions.VecDotI8(args(0), args(1))),
    ("pos_ngrams",
      info("pos_ngrams", "pos_ngrams(tokens, n) - generator: one (pos, gram) row per n-token window"),
      (args: Seq[Expression]) => graft.functions.PosNGrams(args(0), args(1))),
    ("cms_inner_product",
      info("cms_inner_product", "cms_inner_product(a, b) - join-size/inner-product estimate from two same-family CMS (CM05 4.2)"),
      (args: Seq[Expression]) => graft.sketches.CmsInnerProduct(args(0), args(1))),
    ("bloom_ndv",
      info("bloom_ndv", "bloom_ndv(bf) - Swamidass-Baldi distinct-count estimate from the filter's fill ratio"),
      (args: Seq[Expression]) => graft.sketches.BloomNdv(args(0))),
    ("phash64",
      info("phash64", "phash64(payload) - 64-bit perceptual average-hash of a binary payload (64-stripe pool)"),
      (args: Seq[Expression]) => graft.functions.PHash64(args(0))),
    ("byte_entropy",
      info("byte_entropy", "byte_entropy(payload) - Shannon entropy of a binary payload in bits/byte"),
      (args: Seq[Expression]) => graft.functions.ByteEntropy(args(0))),
    ("minhash_sig",
      info("minhash_sig", "minhash_sig(grams|tokens) - combined k=16 MinHash signature (array<bigint> gram hashes, or array<string> tokens with fused xxhash64 3-gram chain)"),
      (args: Seq[Expression]) => graft.functions.MinHashSig(args(0))),
    ("sign_pack32",
      info("sign_pack32", "sign_pack32(arr) - 1-bit quantization: 32 sign bits per BIGINT word (32x smaller than float32)"),
      (args: Seq[Expression]) => graft.functions.VecSignPack32(args(0))),
    ("hilbert_index8",
      info("hilbert_index8", "hilbert_index8(x, y) - order-8 Hilbert-curve index of an (x, y) cell, the locality-optimal clustering key"),
      (args: Seq[Expression]) => graft.functions.HilbertIndex8(args(0), args(1))),
    ("cuckoo_agg",
      info("cuckoo_agg", "cuckoo_agg(col, buckets) - distributed cuckoo-filter build (deletable membership sketch), returns BINARY"),
      (args: Seq[Expression]) => new graft.sketches.CuckooBuildAgg(args(0), args(1))
        .toAggregateExpression()),
    ("cuckoo_contains",
      info("cuckoo_contains", "cuckoo_contains(sketch, value) - cuckoo-filter membership probe, no false negatives"),
      (args: Seq[Expression]) => graft.sketches.CuckooContains(args(0), args(1))))
}

/** Idempotent runtime registration for pre-built sessions. */
object Graft {
  def register(spark: SparkSession): SparkSession = {
    GraftExtensions.registrations.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    spark
  }

  /** Attach the range-join binning rewrite to an already-running session
    * (the driver hands the contract paths a pre-built session, where
    * `injectPreCBORule` is no longer reachable): the rule joins the
    * FixedPoint `extraOptimizations` batch — safe because it is
    * structurally idempotent — and the bin width is set via conf.
    * Idempotent per session. */
  def enableRangeBinning(spark: SparkSession, binSize: Double): SparkSession = {
    spark.conf.set("spark.graft.rangeJoin.binSize", binSize.toString)
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[graft.plans.RangeJoinBinningRule]))
      spark.experimental.extraOptimizations =
        cur :+ graft.plans.RangeJoinBinningRule(spark)
    spark
  }
}
