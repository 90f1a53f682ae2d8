package graft.spark

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{DoubleType, LongType}
import scala.collection.immutable.ListMap

import graft.core._
import graft.spark.expressions._

/**
 * Config-based installation of the sketch function surface:
 *
 * {{{
 *   spark-submit --conf spark.sql.extensions=graft.spark.GraftExtensions ...
 *   // or
 *   SparkSession.builder().withExtensions(new GraftExtensions) ...
 * }}}
 *
 * Every sketch aggregate (builders and `*_merge`) and the histogram scalar
 * queries are native expressions, registered via `injectFunction` from
 * [[GraftExtensions.nativeBuilders]] — SQL-callable with literal parameters,
 * e.g. `hist_sketch_log_quadratic(v, 1e-3, 1e-2, 0, 1e6)` or
 * `hll_sketch(c, 12)`. The remaining scalar UDFs (companion-sketch queries,
 * text functions) register through the session UDF registry on first use.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(extensions: SparkSessionExtensions): Unit = {
    GraftExtensions.nativeBuilders.foreach { case (name, builder) =>
      extensions.injectFunction(
        (
          FunctionIdentifier(name),
          new ExpressionInfo(classOf[HistQuantile].getName, name),
          builder))
    }
    // A resolution rule runs with a session handle before analysis; use the
    // first invocation to install the scalar UDF registry entries idempotently.
    extensions.injectResolutionRule { session =>
      if (!GraftExtensions.installed.contains(session)) {
        GraftExtensions.installed.synchronized {
          if (!GraftExtensions.installed.contains(session)) {
            functions.registerAll(session)
            GraftExtensions.installed.add(session)
          }
        }
      }
      new org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
        override def apply(
            plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
            : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = plan
      }
    }
  }
}

object GraftExtensions {
  private val installed =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  /** Builds a SQL function's expression from its argument expressions. */
  private[spark] type Builder = Seq[Expression] => Expression

  /** Wraps a builder with a proper wrong-number-of-arguments error (raw
   * args(i) indexing would throw an opaque IndexOutOfBoundsException during
   * analysis). */
  private def expectArgs(fn: String, n: Int, atLeast: Boolean = false)(b: Builder): Builder =
    args => {
      val ok = if (atLeast) args.length >= n else args.length == n
      if (!ok) {
        val what = if (atLeast) s"at least $n" else s"$n"
        throw new IllegalArgumentException(
          s"$fn expects $what argument(s), got ${args.length}")
      }
      b(args)
    }

  /** Evaluates a foldable argument to a Double (SQL numeric literals may
   * arrive as Decimal/Int/etc). */
  private def litDouble(fn: String, e: Expression): Double = {
    require(e.foldable, s"$fn: layout parameters must be literals")
    e.eval() match {
      case d: java.lang.Double                     => d
      case f: java.lang.Float                      => f.toDouble
      case i: java.lang.Integer                    => i.toDouble
      case l: java.lang.Long                       => l.toDouble
      case s: java.lang.Short                      => s.toDouble
      case d: org.apache.spark.sql.types.Decimal   => d.toDouble
      case other =>
        throw new IllegalArgumentException(s"$fn: expected a numeric literal, got $other")
    }
  }

  private def litInt(fn: String, e: Expression): Int = {
    require(e.foldable, s"$fn: parameters must be literals")
    e.eval() match {
      case i: java.lang.Integer => i.toInt
      case l: java.lang.Long =>
        // silent truncation would wrap e.g. hist_sketch_otel(v, 4294967296)
        // to a wrong small scale; fail analysis instead
        if (!l.toLong.isValidInt) {
          throw new IllegalArgumentException(
            s"$fn: integer literal $l out of Int range")
        }
        l.toInt
      case other =>
        throw new IllegalArgumentException(s"$fn: expected an integer literal, got $other")
    }
  }

  private def litString(fn: String, e: Expression): String = {
    require(e.foldable, s"$fn: parameters must be literals")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String                                   => s
      case other =>
        throw new IllegalArgumentException(s"$fn: expected a string literal, got $other")
    }
  }

  /** Layout literals of one SQL name suffix: how many there are (at least
   * that many when `variadic`) and how to build the layout from them. */
  private final case class LayoutSuffix(
      params: Int,
      variadic: Boolean,
      parse: (String, Seq[Expression]) => Layout)

  private def errorLimited(mk: (Double, Double, Double, Double) => Layout): LayoutSuffix =
    LayoutSuffix(4, variadic = false, (fn, a) => {
      val d = a.map(litDouble(fn, _))
      mk(d(0), d(1), d(2), d(3))
    })

  /** Layout literals by SQL name suffix: (absolute error, relative error,
   * min, max) for the error-limiting layouts, the OTel scale, or the custom
   * bin boundaries; in registration order. */
  private val layoutSuffixes: ListMap[String, LayoutSuffix] = ListMap(
    "log_quadratic" -> errorLimited(LogQuadraticLayout(_, _, _, _)),
    "log_linear" -> errorLimited(LogLinearLayout(_, _, _, _)),
    "log_optimal" -> errorLimited(LogOptimalLayout(_, _, _, _)),
    "otel" -> LayoutSuffix(
      1, variadic = false, (fn, a) => OtelExponentialLayout(litInt(fn, a.head))),
    "custom" -> LayoutSuffix(
      1, variadic = true, (fn, a) => CustomLayout(a.map(litDouble(fn, _)).toArray)))

  /** Builders `family_suffix` for each listed suffix: the first `lead`
   * arguments go to `build` as they are, the rest are the layout literals. */
  private def withLayout(family: String, lead: Int, suffixes: String*)(
      build: (Seq[Expression], Layout) => Expression): Seq[(String, Builder)] =
    suffixes.map { suffix =>
      val fn = s"${family}_$suffix"
      val l = layoutSuffixes(suffix)
      fn -> expectArgs(fn, lead + l.params, atLeast = l.variadic)(args =>
        build(args.take(lead), l.parse(fn, args.drop(lead))))
    }

  private def sketchAgg(args: Seq[Expression], layout: Layout): Expression =
    HistogramSketchAgg(Cast(args.head, DoubleType), layout).toAggregateExpression()

  /** (value, weight) — the count-weighted native aggregate (reference
   * `addValue(double, long)`, Histogram.java:283-290). */
  private def weightedSketchAgg(args: Seq[Expression], layout: Layout): Expression =
    HistogramSketchWeightedAgg(Cast(args(0), DoubleType), Cast(args(1), LongType), layout)
      .toAggregateExpression()

  /** Layout of the parameterless SQL `hist_sketch` / `hist_sketch_weighted`. */
  private val DefaultSqlLayout: Layout = LogQuadraticLayout(1e-8, 1e-2, -1e9, 1e9)

  private def mergeAgg(codec: SketchCodec[_ <: AnyRef]): (String, Builder) = {
    val fn = s"${codec.family}_merge"
    fn -> expectArgs(fn, 1)(args => SketchMergeAgg(args.head, codec).toAggregateExpression())
  }

  /** Expression builders shared by `injectFunction` (new sessions) and
   * [[functions.registerAll]] (existing sessions). */
  private[spark] val nativeBuilders: Seq[(String, Builder)] = Seq[(String, Builder)](
    // scalar sketch queries. hist_quantile also takes the estimator-
    // parameterized forms (sk, p, alphap, betap[, estimator]);
    // hist_value_at_rank takes (sk, rank[, estimator]).
    "hist_quantile" -> { args =>
      args.length match {
        case 2 => HistQuantile(args(0), Cast(args(1), DoubleType))
        case 4 | 5 =>
          val est = if (args.length == 5) litString("hist_quantile", args(4)) else "uniform"
          HistQuantile(
            args(0),
            Cast(args(1), DoubleType),
            QuantileEstimator(
              litDouble("hist_quantile", args(2)),
              litDouble("hist_quantile", args(3))),
            HistParamEval.estimator(est))
        case n => throw new IllegalArgumentException(
          s"hist_quantile expects 2, 4 or 5 arguments, got $n")
      }
    },
    "hist_value_at_rank" -> { args =>
      args.length match {
        case 2 => HistValueAtRank(args(0), Cast(args(1), LongType))
        case 3 => HistValueAtRank(
          args(0),
          Cast(args(1), LongType),
          HistParamEval.estimator(litString("hist_value_at_rank", args(2))))
        case n => throw new IllegalArgumentException(
          s"hist_value_at_rank expects 2 or 3 arguments, got $n")
      }
    },
    // reference-blob migration (SQL-only users can reach it too)
    "hist_from_reference" -> expectArgs("hist_from_reference", 1)(args =>
      HistFromReference(args(0))),
    "hist_to_reference" -> expectArgs("hist_to_reference", 1)(args =>
      HistToReference(args(0))),
    "hist_quantiles" -> expectArgs("hist_quantiles", 2)(
      args => HistQuantiles(
        args(0),
        Cast(args(1), org.apache.spark.sql.types.ArrayType(DoubleType)))),
    "hist_total" -> expectArgs("hist_total", 1)(args => HistStat(args(0), HistStat.Total)),
    "hist_min" -> expectArgs("hist_min", 1)(args => HistStat(args(0), HistStat.Min)),
    "hist_max" -> expectArgs("hist_max", 1)(args => HistStat(args(0), HistStat.Max)),
    "hist_underflow" -> expectArgs("hist_underflow", 1)(
      args => HistStat(args(0), HistStat.Underflow)),
    "hist_overflow" -> expectArgs("hist_overflow", 1)(
      args => HistStat(args(0), HistStat.Overflow)),
    "hist_bins" -> expectArgs("hist_bins", 1)(args => HistBins(args(0))),
    // histogram aggregates with the default layout
    "hist_sketch" -> expectArgs("hist_sketch", 1)(sketchAgg(_, DefaultSqlLayout)),
    "hist_sketch_weighted" ->
      expectArgs("hist_sketch_weighted", 2)(weightedSketchAgg(_, DefaultSqlLayout)),
    // companion-sketch aggregates: accuracy parameters are per-call SQL
    // literals; 1-arg forms use the library defaults, matching the DSL
    "hll_sketch" -> { args =>
      val p = args.length match {
        case 1 => graft.sketches.Hll.DefaultPrecision
        case 2 => litInt("hll_sketch", args(1))
        case n => throw new IllegalArgumentException(
          s"hll_sketch expects (item[, precision]), got $n argument(s)")
      }
      HllSketchAgg(args.head, p).toAggregateExpression()
    },
    "cms_sketch" -> { args =>
      val (d, w) = args.length match {
        case 1 => (5, 2048)
        case 3 => (litInt("cms_sketch", args(1)), litInt("cms_sketch", args(2)))
        case n => throw new IllegalArgumentException(
          s"cms_sketch expects (item[, depth, width]), got $n argument(s)")
      }
      CountMinSketchAgg(args.head, d, w).toAggregateExpression()
    },
    "cms_sketch_weighted" -> { args =>
      val (d, w) = args.length match {
        case 2 => (5, 2048)
        case 4 =>
          (litInt("cms_sketch_weighted", args(2)), litInt("cms_sketch_weighted", args(3)))
        case n => throw new IllegalArgumentException(
          s"cms_sketch_weighted expects (item, weight[, depth, width]), got $n argument(s)")
      }
      CountMinWeightedSketchAgg(args(0), Cast(args(1), LongType), d, w)
        .toAggregateExpression()
    },
    "bloom_sketch" -> { args =>
      val (exp, fpp) = args.length match {
        case 2 => (litDouble("bloom_sketch", args(1)).toLong, 0.01)
        case 3 =>
          (litDouble("bloom_sketch", args(1)).toLong, litDouble("bloom_sketch", args(2)))
        case n => throw new IllegalArgumentException(
          s"bloom_sketch expects (item, expected_items[, fpp]), got $n argument(s)")
      }
      BloomSketchAgg(args.head, exp, fpp).toAggregateExpression()
    },
    "tdigest_sketch" -> { args =>
      val c = args.length match {
        case 1 => 100.0
        case 2 => litDouble("tdigest_sketch", args(1))
        case n => throw new IllegalArgumentException(
          s"tdigest_sketch expects (value[, compression]), got $n argument(s)")
      }
      TDigestSketchAgg(Cast(args.head, DoubleType), c).toAggregateExpression()
    },
    "kll_sketch" -> { args =>
      val k = args.length match {
        case 1 => 200
        case 2 => litInt("kll_sketch", args(1))
        case n => throw new IllegalArgumentException(
          s"kll_sketch expects (value[, k]), got $n argument(s)")
      }
      KllSketchAgg(Cast(args.head, DoubleType), k).toAggregateExpression()
    },
    // re-merge of stored sketch blobs, one per family
    mergeAgg(SketchCodec.HistCodec),
    mergeAgg(SketchCodec.HllCodec),
    mergeAgg(SketchCodec.CmsCodec),
    mergeAgg(SketchCodec.BloomCodec),
    mergeAgg(SketchCodec.TDigestCodec),
    mergeAgg(SketchCodec.KllCodec)) ++
    // layout-parameterized forms: histogram aggregates over (value[, weight]),
    // cross-layout re-binning of a sketch, and the native bin-index scalar
    // (whole-stage codegen), each followed by the layout literals
    withLayout("hist_sketch", 1, layoutSuffixes.keys.toSeq: _*)(sketchAgg) ++
    withLayout("hist_sketch_weighted", 2, "log_quadratic", "custom")(weightedSketchAgg) ++
    withLayout("hist_rebin", 1, layoutSuffixes.keys.toSeq: _*)((a, l) => HistRebin(a.head, l)) ++
    withLayout("hist_bin_index", 1, "log_quadratic", "otel", "custom")((a, l) =>
      HistBinIndex(Cast(a.head, DoubleType), l))
}
