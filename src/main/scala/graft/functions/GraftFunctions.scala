package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * SQL-side registration of graft's native expressions, so `spark.sql`
 * users (and the Spark SQL CLI) can call them directly:
 *
 * {{{
 *   GraftFunctions.register(spark)
 *   spark.sql("SELECT vec_dot(a.embedding, b.embedding) FROM ...")
 * }}}
 *
 * Registration goes straight into the session's FunctionRegistry —
 * works on ANY live session, including ones graft did not build
 * (a `SparkSessionExtensions` class requires owning the builder; the
 * driver and notebooks usually don't hand that over).
 */
object GraftFunctions {

  private case class Fn(name: String, usage: String, arity: Int,
                        build: Seq[Expression] => Expression)

  private val fns: Seq[Fn] = Seq(
    Fn("vec_dot", "vec_dot(a, b) - dot product of two float/double arrays", 2,
      args => VectorExprs.VecDot(args(0), args(1))),
    Fn("vec_norm", "vec_norm(a) - L2 norm of a float/double array", 1,
      args => VectorExprs.VecNorm(args(0))),
    Fn("vec_cosine", "vec_cosine(a, b) - cosine similarity", 2, { args =>
      // raw catalyst nodes, not Columns: a registry builder must return
      // an already-resolvable tree (Column round-trips embed
      // unresolved ColumnNode functions the analyzer won't touch here)
      import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Divide, EqualTo, Literal, Multiply}
      val n = Multiply(VectorExprs.VecNorm(args(0)), VectorExprs.VecNorm(args(1)))
      CaseWhen(Seq((EqualTo(n, Literal(0.0)), Literal(0.0))),
        Some(Divide(VectorExprs.VecDot(args(0), args(1)), n)))
    }),
    Fn("text_shingles", "text_shingles(text, k) - distinct k-word shingles", 2,
      args => TextHashExprs.ShinglesExpr(args(0),
        foldableInt(args(1), "text_shingles k"))),
    Fn("minhash_sig", "minhash_sig(text, k, n) - MinHash signature", 3,
      args => TextHashExprs.MinhashSigExpr(args(0),
        foldableInt(args(1), "minhash_sig k"), foldableInt(args(2), "minhash_sig n"))),
    Fn("simhash64", "simhash64(text) - 64-bit SimHash", 1,
      args => TextHashExprs.SimhashExpr(args(0))),
    Fn("text_quality", "text_quality(text) - quality feature struct", 1,
      args => TextFeatures.TextQualityExpr(args(0), graft.TextAnalysisCols.EnStop)),
    Fn("vec_sqdist", "vec_sqdist(a, b) - squared L2 distance of two arrays", 2,
      args => VectorExprs.VecSqDist(args(0), args(1))),
    Fn("multi_match_count",
      "multi_match_count(text, array('t1','t2',…)) - distinct terms present (Aho-Corasick)", 2,
      args => AhoCorasick.MultiMatchCount(args(0), foldableStringArray(args(1)))),
    Fn("hll_sketch", "hll_sketch(col) - mergeable HLL distinct sketch (binary, p=12)", 1,
      args => HllExprs.HllSketchAgg(args(0), 12).toAggregateExpression()),
    Fn("hll_union", "hll_union(sketch) - union of HLL sketches", 1,
      args => HllExprs.HllUnionAgg(args(0)).toAggregateExpression()),
    Fn("hll_estimate", "hll_estimate(sketch) - distinct estimate of an HLL sketch", 1,
      args => HllExprs.HllEstimate(args(0))),
    Fn("dd_sketch", "dd_sketch(col) - mergeable DDSketch quantile sketch (alpha=0.01)", 1,
      args => DdSketchExprs.DdSketchAgg(args(0), 0.01).toAggregateExpression()),
    Fn("dd_union", "dd_union(sketch) - union of DDSketch quantile sketches", 1,
      args => DdSketchExprs.DdUnionAgg(args(0)).toAggregateExpression()),
    Fn("dd_quantile", "dd_quantile(sketch, q) - quantile estimate of a DDSketch", 2,
      args => DdSketchExprs.DdQuantile(args(0), args(1))),
    Fn("cms_sketch", "cms_sketch(col) - mergeable Count-Min frequency sketch (binary, 5x2048)", 1,
      args => CmsExprs.CmsSketchAgg(args(0), CmsExprs.DefaultDepth,
        CmsExprs.DefaultWidth).toAggregateExpression()),
    Fn("cms_union", "cms_union(sketch) - union of Count-Min sketches", 1,
      args => CmsExprs.CmsUnionAgg(args(0)).toAggregateExpression()),
    Fn("cms_estimate", "cms_estimate(sketch, value) - frequency upper bound for value", 2,
      args => CmsExprs.CmsEstimate(args(0), args(1))),
    Fn("cms_join_size", "cms_join_size(a, b) - equi-join row-count estimate from two sketches", 2,
      args => CmsExprs.CmsJoinSize(args(0), args(1))),
    // PORTABLE sketch modes: md5-prefix hashing over STRING input —
    // slower per value than the XXH64 defaults, but any md5-capable
    // engine rebuilds the registers/counters bit-for-bit (the
    // field_stats_approx / skew_keys_approx oracles do exactly that).
    // Union the same-mode sketches only.
    Fn("hll_sketch_portable",
      "hll_sketch_portable(str) - engine-reproducible HLL sketch (md5, p=12)", 1,
      args => HllExprs.HllSketchAgg(args(0), 12, portable = true)
        .toAggregateExpression()),
    Fn("cms_sketch_portable",
      "cms_sketch_portable(str) - engine-reproducible Count-Min sketch (md5, 5x2048)", 1,
      args => CmsExprs.CmsSketchAgg(args(0), CmsExprs.DefaultDepth,
        CmsExprs.DefaultWidth, portable = true).toAggregateExpression()),
    Fn("cms_estimate_portable",
      "cms_estimate_portable(sketch, str) - frequency upper bound in a portable sketch", 2,
      args => CmsExprs.CmsEstimate(args(0), args(1), portable = true)),
    // bounded-heap top-k selection (the ANN serve-path aggregate):
    // array<struct<neighbor_id, score>> sorted best-first — rank is
    // posexplode position + 1. Replaces row_number() OVER (PARTITION
    // BY ... ORDER BY ...) <= k without sorting the candidate frame.
    Fn("topk_by_sim",
      "topk_by_sim(id, score, k) - top-k (neighbor_id, cos_sim) per group by DESCENDING score, ties id asc", 3,
      args => TopKExprs.TopKPairsAgg(args(0), args(1),
        foldableInt(args(2), "topk_by_sim k"), bigBetter = true,
        distinctIds = false, scoreName = "cos_sim").toAggregateExpression()),
    Fn("topk_by_dist",
      "topk_by_dist(id, score, k) - top-k (neighbor_id, adc_dist) per group by ASCENDING score, ties id asc", 3,
      args => TopKExprs.TopKPairsAgg(args(0), args(1),
        foldableInt(args(2), "topk_by_dist k"), bigBetter = false,
        distinctIds = false, scoreName = "adc_dist").toAggregateExpression()))

  private def foldableStringArray(e: Expression): Seq[String] = {
    require(e.foldable, "multi_match_count terms must be a literal array")
    e.eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        (0 until a.numElements()).map(i =>
          a.getUTF8String(i).toString)
      case other => throw new IllegalArgumentException(
        s"expected array<string> literal, got $other")
    }
  }

  private def foldableInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval(null).asInstanceOf[Number].intValue()
  }

  private def builderOf(f: Fn): Seq[Expression] => Expression =
    (args: Seq[Expression]) => {
      require(args.length == f.arity,
        s"${f.name} expects ${f.arity} arguments, got ${args.length}")
      f.build(args)
    }

  /** Register every graft function in the session's catalog. A name
    * that already carries graft's `ExpressionInfo` (a `GraftExtensions`
    * session, or an earlier call) is skipped; any other function of
    * that name is replaced. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    fns.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!registry.lookupFunction(id).exists(_.getClassName == "graft"))
        registry.registerFunction(id,
          new ExpressionInfo("graft", f.name, f.usage),
          builderOf(f))
    }
  }

  /** Inject every graft function through `SparkSessionExtensions`
    * (see [[graft.GraftExtensions]] for the spark.sql.extensions
    * entry point). */
  def inject(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    fns.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo("graft", f.name, f.usage),
        builderOf(f)))
    }
}
