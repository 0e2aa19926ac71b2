package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate
import org.apache.spark.sql.types._

/** MySQL-flavored compat functions the reference exposes that Spark
  * lacks by name (SURVEY.md §2.8; reference registry
  * `gensrc/script/functions.py`, kernels under `be/src/exprs/`).
  *
  * Each alias is built from existing Catalyst expressions (directly or
  * via `UnresolvedFunction`, resolved by the analyzer), so everything
  * stays inside whole-stage codegen — no UDF boxing on the hot path.
  */
object Compat {

  /** Compose a call to an existing (possibly builtin) function. */
  private def call(name: String, args: Expression*): Expression =
    UnresolvedFunction(FunctionIdentifier(name), args, isDistinct = false)

  private def lit(v: Any): Expression = Literal(v)

  private def neg(e: Expression): Expression = UnaryMinus(e)

  /** Require a foldable string argument (unit names and the like). */
  private def litStr(e: Expression, what: String): String = e match {
    case Literal(s, StringType) => String.valueOf(s)
    case _ => throw new IllegalArgumentException(s"$what must be a string literal")
  }

  /** Seconds per unit for time_slice on sub-day units. */
  private val unitSeconds: Map[String, Long] =
    Map("second" -> 1L, "minute" -> 60L, "hour" -> 3600L, "day" -> 86400L, "week" -> 604800L)

  /** The Spark builtins graft deliberately replaces, each with why;
    * every other graft name is new to Spark (CompatFunctionsSpec
    * checks both). */
  val builtinOverrides: Map[String, String] = Map(
    "dayname" -> "full day names (Monday), not Spark's 3-letter ones",
    "monthname" -> "full month names (March), not Spark's 3-letter ones",
    "bitmap_count" -> "cardinality of graft's serialized Roaring bitmaps, not Spark's bit-position bitmaps",
    "approx_top_k" -> "the reference's (item, k) form, sorted by (count desc, item asc), as its gates pin")

  /** (name, builder) pairs — consumed by both session-level `register`
    * and the `GraftExtensions` SparkSessionExtensions entry point. */
  lazy val injections: Seq[(String, Seq[Expression] => Expression)] = {
    val buf = scala.collection.mutable.ListBuffer.empty[(String, Seq[Expression] => Expression)]
    def f(name: String)(builder: Seq[Expression] => Expression): Unit =
      buf += (name -> builder)

    // --- date/time (reference: be/src/exprs/time_functions.cpp) ---
    f("dayname") { es => call("date_format", es.head, lit("EEEE")) }
    f("monthname") { es => call("date_format", es.head, lit("MMMM")) }
    // N-unit add/sub keeping datetime type (reference months_add etc.)
    for ((g, unit) <- Seq("years" -> "YEAR", "months" -> "MONTH", "weeks" -> "WEEK",
        "days" -> "DAY", "hours" -> "HOUR", "minutes" -> "MINUTE", "seconds" -> "SECOND")) {
      f(s"${g}_add") { es => TimestampAdd(unit, es(1), Cast(es(0), TimestampType)) }
      f(s"${g}_sub") { es => TimestampAdd(unit, neg(es(1)), Cast(es(0), TimestampType)) }
    }
    // time_slice(ts, n, unit[, 'floor'|'ceil']) — align to n-unit buckets
    // from epoch (reference time_functions.cpp time_slice).
    f("time_slice") { es =>
      val ts = es.head
      val n = es(1)
      val unit = es(2) match {
        case Literal(u, StringType) => String.valueOf(u).toLowerCase
        case _ => throw new IllegalArgumentException("time_slice unit must be a literal")
      }
      val ceil = es.length > 3 && (es(3) match {
        case Literal(b, StringType) => String.valueOf(b).equalsIgnoreCase("ceil")
        case _ => false
      })
      unitSeconds.get(unit) match {
        case Some(secs) =>
          val width = Multiply(Cast(n, LongType), lit(secs))
          val epoch = Cast(call("unix_timestamp", ts), LongType)
          val bucket = Multiply(call("floor", Divide(Cast(epoch, DoubleType), Cast(width, DoubleType))), width)
          val aligned = if (ceil) Add(bucket, width) else bucket
          call("timestamp_seconds", aligned)
        case None =>
          // month/quarter/year slices align via month arithmetic
          val monthsPer = unit match {
            case "month" => 1; case "quarter" => 3; case "year" => 12
            case u => throw new IllegalArgumentException(s"time_slice unit: $u")
          }
          val width = Multiply(Cast(n, IntegerType), lit(monthsPer))
          val monthsSinceEpoch = Add(
            Multiply(Subtract(call("year", ts), lit(1970)), lit(12)),
            Subtract(call("month", ts), lit(1)))
          val bucket = Multiply(Cast(call("floor",
            Divide(Cast(monthsSinceEpoch, DoubleType), Cast(width, DoubleType))), IntegerType), width)
          val aligned = if (ceil) Add(bucket, width) else bucket
          call("add_months", Cast(lit("1970-01-01"), TimestampType), aligned)
      }
    }
    // str_to_date(str, mysql_fmt) — translate MySQL % patterns to java.time
    f("str_to_date") { es =>
      es(1) match {
        case Literal(fmt, StringType) =>
          call("to_timestamp", es.head, lit(mysqlToJavaFormat(String.valueOf(fmt))))
        case _ => throw new IllegalArgumentException("str_to_date format must be a literal")
      }
    }
    f("str2date") { es =>
      es(1) match {
        case Literal(fmt, StringType) =>
          call("to_date", es.head, lit(mysqlToJavaFormat(String.valueOf(fmt))))
        case _ => throw new IllegalArgumentException("str2date format must be a literal")
      }
    }

    // convert_tz(ts, from_tz, to_tz) — MySQL arg order; Spark's
    // convert_timezone takes (from, to, ts)
    f("convert_tz") { es => call("convert_timezone", es(1), es(2), es.head) }
    // to_days / from_days — days since year 0 (MySQL epoch offset:
    // to_days('1970-01-01') = 719528)
    f("to_days") { es =>
      Add(call("datediff", Cast(es.head, DateType), Cast(lit("1970-01-01"), DateType)),
        lit(719528))
    }
    f("from_days") { es =>
      call("date_add", Cast(lit("1970-01-01"), DateType), Subtract(Cast(es.head, IntegerType), lit(719528)))
    }

    // --- string (reference: be/src/exprs/string_functions.cpp) ---
    // field(x, v1, v2, ...) — 1-based index of x in the list, 0 if absent
    f("field") { es =>
      CaseWhen(es.tail.zipWithIndex.map { case (v, i) =>
        (EqualTo(es.head, v), lit(i + 1)) }, lit(0))
    }
    f("strcmp") { es =>
      // MySQL strcmp is NULL on NULL input — without the explicit guard
      // a NULL comparison falls through both CaseWhen branches to the
      // else literal 1
      CaseWhen(Seq(
        (Or(IsNull(es.head), IsNull(es(1))),
          Literal.create(null, IntegerType)),
        (LessThan(es.head, es(1)), lit(-1)),
        (EqualTo(es.head, es(1)), lit(0))), lit(1))
    }
    f("money_format") { es => call("format_number", Cast(es.head, DoubleType), lit(2)) }
    f("strleft") { es => call("left", es: _*) }
    f("strright") { es => call("right", es: _*) }
    f("ends_with") { es => call("endswith", es: _*) }
    f("starts_with") { es => call("startswith", es: _*) }
    f("null_or_empty") { es => Or(IsNull(es.head), EqualTo(es.head, lit(""))) }
    f("append_trailing_char_if_absent") { es =>
      If(call("endswith", es.head, es(1)), es.head, Concat(Seq(es.head, es(1))))
    }

    // --- hash / crypto (reference: be/src/exprs/hash_functions.cpp) ---
    f("murmur_hash3_32") { es => call("hash", es: _*) }
    f("xx_hash3_64") { es => call("xxhash64", es: _*) }

    // --- math / bit (reference: math_functions.cpp, bit_functions.cpp) ---
    f("bitand") { es => BitwiseAnd(es.head, es(1)) }
    f("bitor") { es => BitwiseOr(es.head, es(1)) }
    f("bitxor") { es => BitwiseXor(es.head, es(1)) }
    f("bitnot") { es => BitwiseNot(es.head) }
    f("bitshiftleft") { es => ShiftLeft(es.head, Cast(es(1), IntegerType)) }
    f("bitshiftright") { es => ShiftRight(es.head, Cast(es(1), IntegerType)) }
    f("dround") { es => call("round", es: _*) }
    f("dlog10") { es => call("log10", es: _*) }
    f("dsqrt") { es => call("sqrt", es: _*) }
    f("dexp") { es => call("exp", es: _*) }
    f("truncate") { es =>
      // truncate(x, d): toward zero at d decimals (MySQL semantics)
      val scale = call("power", lit(10.0d), Cast(es(1), DoubleType))
      Divide(Cast(If(GreaterThanOrEqual(es.head, lit(0.0d)),
        call("floor", Multiply(Cast(es.head, DoubleType), scale)),
        call("ceil", Multiply(Cast(es.head, DoubleType), scale))), DoubleType), scale)
    }

    // --- conditional (reference: condition_expr.cpp) ---
    // Spark already ships if/ifnull/nullif/coalesce with matching
    // semantics; nothing to add.

    // --- bitmap (reference: bitmap_functions.cpp, agg/bitmap_union.h) ---
    f("to_bitmap") { es => graft.functions.agg.ToBitmap(es.head) }
    f("bitmap_count") { es => graft.functions.agg.BitmapCount(es.head) }
    f("bitmap_to_array") { es => graft.functions.agg.BitmapToArray(es.head) }
    f("bitmap_and") { es => graft.functions.agg.BitmapAnd(es.head, es(1)) }
    f("bitmap_or") { es => graft.functions.agg.BitmapOr(es.head, es(1)) }
    f("bitmap_xor") { es => graft.functions.agg.BitmapXor(es.head, es(1)) }
    f("bitmap_union") { es => graft.functions.agg.BitmapUnionAgg(es.head) }
    f("bitmap_andnot") { es => graft.functions.agg.BitmapAndNot(es.head, es(1)) }
    f("bitmap_min") { es => graft.functions.agg.BitmapExtreme(es.head, isMax = false) }
    f("bitmap_max") { es => graft.functions.agg.BitmapExtreme(es.head, isMax = true) }
    f("bitmap_contains") { es => graft.functions.agg.BitmapContains(es.head, es(1)) }
    f("bitmap_has_any") { es => graft.functions.agg.BitmapHasAny(es.head, es(1)) }
    f("sub_bitmap") { es => graft.functions.agg.SubBitmap(es.head, es(1), es(2)) }
    // --- sketch aggregates (reference: agg/window_funnel.h, approx_top_k.h) ---
    f("window_funnel") { es =>
      val (win, steps) = (es.head, es(3)) match {
        case (Literal(w, _), Literal(n, _)) =>
          (w.asInstanceOf[Number].longValue(), n.asInstanceOf[Number].intValue())
        case _ => throw new IllegalArgumentException(
          "window_funnel(windowSeconds, ts, step, numSteps[, mode]): window and numSteps must be literals")
      }
      // optional mode literal — reference bits: 1 deduplication,
      // 2 fixed, 4 increase (window_funnel.h MODE_FLAGS)
      val mode = es.lift(4).map {
        case Literal(m, _) => m.asInstanceOf[Number].intValue()
        case _ => throw new IllegalArgumentException("window_funnel mode must be a literal")
      }.getOrElse(0)
      graft.functions.agg.WindowFunnelAgg(Literal(win), es(1), es(2), steps, mode)
    }
    f("approx_top_k") { es =>
      val k = es(1) match {
        case Literal(n, _) => n.asInstanceOf[Number].intValue()
        case _ => throw new IllegalArgumentException("approx_top_k k must be a literal")
      }
      graft.functions.agg.ApproxTopKAgg(es.head, k)
    }
    def litInt(e: Expression, what: String): Int = e match {
      case Literal(n, _) => n.asInstanceOf[Number].intValue()
      case _ => throw new IllegalArgumentException(s"$what must be a literal")
    }
    // map_agg(k, v) (reference: be/src/exprs/agg/map_agg.h) — composed
    // from builtins so it stays two-phase/codegen; entries sorted by key
    // for deterministic map ordering across partitionings
    f("map_agg") { es =>
      call("map_from_entries", call("array_sort",
        call("collect_list", CreateStruct(Seq(es.head, es(1))))))
    }
    // min_n/max_n (reference: be/src/exprs/agg/minmax_n.h) — bounded heap
    f("min_n") { es => graft.functions.agg.MinMaxNAgg(es.head, litInt(es(1), "min_n n"), isMax = false) }
    f("max_n") { es => graft.functions.agg.MinMaxNAgg(es.head, litInt(es(1), "max_n n"), isMax = true) }
    // intersect_count (reference: be/src/exprs/agg/intersect_count.h)
    f("intersect_count") { es =>
      graft.functions.agg.IntersectCountAgg(es.head, es(1), es.drop(2))
    }
    // theta sketches (reference: be/src/exprs/agg/ds_theta_count_distinct.h)
    f("ds_theta_count_distinct") { es => graft.functions.agg.ThetaSketchAgg(es.head, "count") }
    f("ds_theta_sketch_agg") { es => graft.functions.agg.ThetaSketchAgg(es.head, "sketch") }
    f("ds_theta_union_agg") { es => graft.functions.agg.ThetaSketchAgg(es.head, "union") }
    f("ds_theta_estimate") { es => graft.functions.agg.ThetaEstimate(es.head) }
    f("ds_theta_union") { es => graft.functions.agg.ThetaUnionOp(es.head, es(1)) }
    f("ds_theta_intersect") { es => graft.functions.agg.ThetaIntersectOp(es.head, es(1)) }
    f("ds_theta_diff") { es => graft.functions.agg.ThetaDiffOp(es.head, es(1)) }
    // storable percentile state (reference: be/src/types/tdigest.h,
    // be/src/exprs/agg/percentile_approx.h)
    f("percentile_agg") { es => graft.functions.agg.TDigestAgg(es.head, isUnion = false) }
    f("percentile_union") { es => graft.functions.agg.TDigestAgg(es.head, isUnion = true) }
    f("percentile_approx_raw") { es => graft.functions.agg.TDigestQuantile(es.head, es(1)) }
    // generic agg-state combinators (reference be/src/exprs/agg/
    // combinator/ xxx_state/_union/_merge; typing via agg_state_desc):
    // lift ANY registered aggregate into a storable partial state.
    // agg_state('f', args...); agg_state_union/merge('f', state,
    // witness...) where witnesses (CAST(NULL AS t)) carry the inner's
    // argument types — see functions/agg/AggStateCombinators.scala.
    f("agg_state") { es =>
      val fn = litStr(es.head, "agg_state function name")
      graft.functions.agg.AggStateAgg(
        graft.functions.agg.AggStateCombinators.resolve(fn, es.tail))
    }
    for ((nm, fin) <- Seq("agg_state_union" -> false, "agg_state_merge" -> true))
      f(nm) { es =>
        val fn = litStr(es.head, s"$nm function name")
        val inner = graft.functions.agg.AggStateCombinators.neutered(
          graft.functions.agg.AggStateCombinators.resolve(fn, es.drop(2)))
        graft.functions.agg.AggStateMergeAgg(inner, es(1), isMerge = fin)
      }

    // --- TVF-ish (reference: generate_series.h; used as
    // explode(generate_series(a, b[, step])) on the Spark side) ---
    f("generate_series") { es => call("sequence", es: _*) }

    // --- HLL sketches (reference: hyperloglog_functions.cpp, agg/hll_ndv.h)
    // Storable/mergeable sketches ride on Spark's DataSketches builtins;
    // only the reference's names are added. ---
    f("hll_raw_agg") { es => call("hll_sketch_agg", es: _*) }
    f("hll_cardinality") { es => call("hll_sketch_estimate", es: _*) }
    // hll_union(binary, binary) and hll_union_agg(binary) exist in Spark
    // under the same names — nothing to register.

    // --- geo (reference: geo_functions.cpp st_point/st_x/st_y/
    // st_distance_sphere; full geometry (st_contains on polygons) is
    // out of scope — box containment covers the partition-pruning use) ---
    f("st_point") { es => CreateNamedStruct(Seq(lit("x"), es.head, lit("y"), es(1))) }
    f("st_x") { es => GetStructField(es.head, 0, Some("x")) }
    f("st_y") { es => GetStructField(es.head, 1, Some("y")) }
    // st_distance_sphere(lon1, lat1, lon2, lat2) → meters (haversine,
    // R=6371000; matches the MySQL-compatible surface)
    f("st_distance_sphere") { es =>
      val Seq(lon1, lat1, lon2, lat2) = es.take(4).map(e => Cast(e, DoubleType))
      def rad(e: Expression) = call("radians", e)
      val dLat = Divide(Subtract(rad(lat2), rad(lat1)), lit(2.0d))
      val dLon = Divide(Subtract(rad(lon2), rad(lon1)), lit(2.0d))
      val a = Add(
        Multiply(call("sin", dLat), call("sin", dLat)),
        Multiply(Multiply(call("cos", rad(lat1)), call("cos", rad(lat2))),
          Multiply(call("sin", dLon), call("sin", dLon))))
      Multiply(lit(2.0d * 6371000.0d), call("asin", call("sqrt", a)))
    }
    // --- array kernels + aliases (reference: array_functions.cpp/.h) ---
    f("array_sum") { es => ArraySumAvg(es.head, isAvg = false) }
    f("array_avg") { es => ArraySumAvg(es.head, isAvg = true) }
    f("array_length") { es => call("size", es.head) }
    f("array_cum_sum") { es => ArrayCumSum(es.head) }
    f("array_difference") { es => ArrayDifference(es.head) }
    f("array_contains_all") { es => ArrayContainsAll(es.head, es(1)) }
    f("array_sortby") { es => ArraySortBy(es.head, es(1)) }
    f("ngram_search") { es => NgramSearch(es.head, es(1), es(2)) }
    f("ngram_search_case_insensitive") { es =>
      NgramSearch(call("lower", es.head), call("lower", es(1)), es(2))
    }
    f("array_concat") { es => call("concat", es: _*) }
    f("array_slice") { es => call("slice", es: _*) }
    f("array_generate") { es => call("sequence", es: _*) }
    f("array_flatten") { es => call("flatten", es: _*) }
    // lambda args must bind to a HigherOrderFunction node directly —
    // routing them through UnresolvedFunction breaks lambda resolution
    f("array_map") { es => ArrayTransform(es.head, es(1)) }
    f("array_filter") { es => ArrayFilter(es.head, es(1)) }
    f("all_match") { es => ArrayForAll(es.head, es(1)) }
    f("any_match") { es => ArrayExists(es.head, es(1)) }

    // --- date/time diff + alias family (reference time_functions.cpp:
    // {unit}s_diff = truncated micros difference of (end, start)) ---
    def microsDiffDiv(es: Seq[Expression], unitMicros: Long): Expression =
      Cast(Divide(
        Cast(Subtract(call("unix_micros", Cast(es.head, TimestampType)),
          call("unix_micros", Cast(es(1), TimestampType))), DoubleType),
        lit(unitMicros.toDouble)), LongType)
    f("seconds_diff") { es => microsDiffDiv(es, 1000000L) }
    f("minutes_diff") { es => microsDiffDiv(es, 60L * 1000000) }
    f("hours_diff") { es => microsDiffDiv(es, 3600L * 1000000) }
    f("days_diff") { es => microsDiffDiv(es, 86400L * 1000000) }
    f("weeks_diff") { es => microsDiffDiv(es, 7L * 86400 * 1000000) }
    f("months_diff") { es =>
      Cast(call("months_between", Cast(es.head, TimestampType), Cast(es(1), TimestampType)), LongType)
    }
    f("quarters_diff") { es =>
      Cast(Divide(Cast(Cast(call("months_between", Cast(es.head, TimestampType),
        Cast(es(1), TimestampType)), LongType), DoubleType), lit(3.0d)), LongType)
    }
    f("years_diff") { es =>
      Cast(Divide(Cast(Cast(call("months_between", Cast(es.head, TimestampType),
        Cast(es(1), TimestampType)), LongType), DoubleType), lit(12.0d)), LongType)
    }
    f("adddate") { es => call("date_add", es: _*) }
    f("subdate") { es => call("date_sub", es: _*) }
    f("quarters_add") { es => call("add_months", es.head, Multiply(Cast(es(1), IntegerType), lit(3))) }
    f("quarters_sub") { es => call("add_months", es.head, Multiply(Cast(es(1), IntegerType), lit(-3))) }
    f("week") { es => call("weekofyear", es.head) }
    f("week_iso") { es => call("weekofyear", es.head) }
    f("dayofweek_iso") { es =>
      Add(Pmod(Add(call("dayofweek", es.head), lit(5)), lit(7)), lit(1))
    }
    f("makedate") { es =>
      call("date_add", call("make_date", es.head, lit(1), lit(1)),
        Cast(Subtract(es(1), lit(1)), IntegerType))
    }
    f("from_unixtime_ms") { es => call("timestamp_millis", Cast(es.head, LongType)) }
    f("hour_from_unixtime") { es => call("hour", call("from_unixtime", es: _*)) }
    f("utc_timestamp") { _ => call("current_timestamp") }
    f("to_datetime") { es => call("to_timestamp", es: _*) }
    // timestampadd/timestampdiff are Spark builtins (unquoted unit
    // keyword, same as MySQL) — only the {unit}s_add/sub names need aliases
    f("milliseconds_add") { es => new TimestampAdd("MILLISECOND", es(1), es.head) }
    f("milliseconds_sub") { es => new TimestampAdd("MILLISECOND", UnaryMinus(es(1)), es.head) }
    f("microseconds_add") { es => new TimestampAdd("MICROSECOND", es(1), es.head) }
    f("microseconds_sub") { es => new TimestampAdd("MICROSECOND", UnaryMinus(es(1)), es.head) }

    // --- string/hash aliases ---
    f("ltrim_string") { es => call("ltrim", es: _*) }
    f("rtrim_string") { es => call("rtrim", es: _*) }
    f("trim_string") { es => call("trim", es: _*) }
    f("substitute") { es => call("replace", es: _*) }
    f("md5sum") { es => call("md5", call("concat_ws", (lit("") +: es): _*)) }
    f("crc32_hash") { es => call("crc32", es: _*) }
    f("xx_hash64") { es => call("xxhash64", es: _*) }
    f("to_base64") { es => call("base64", es: _*) }
    f("from_base64") { es => call("unbase64", es: _*) }

    // --- arithmetic-by-name + math aliases ---
    f("add") { es => Add(es.head, es(1)) }
    f("subtract") { es => Subtract(es.head, es(1)) }
    f("multiply") { es => Multiply(es.head, es(1)) }
    f("divide") { es => Divide(Cast(es.head, DoubleType), Cast(es(1), DoubleType)) }
    f("square") { es => Multiply(es.head, es.head) }
    f("fmod") { es => Remainder(Cast(es.head, DoubleType), Cast(es(1), DoubleType)) }
    f("dceil") { es => call("ceil", es: _*) }
    f("dfloor") { es => call("floor", es: _*) }
    f("dpow") { es => call("pow", es: _*) }

    // --- JSON compat (reference json_functions.cpp typed getters) ---
    f("get_json_string") { es => call("get_json_object", es: _*) }
    f("get_json_int") { es => Cast(call("get_json_object", es: _*), LongType) }
    f("get_json_double") { es => Cast(call("get_json_object", es: _*), DoubleType) }
    f("get_json_bool") { es => Cast(call("get_json_object", es: _*), BooleanType) }
    f("json_exists") { es => IsNotNull(call("get_json_object", es: _*)) }
    f("json_query") { es => call("get_json_object", es: _*) }
    f("json_length") { es =>
      Coalesce(Seq(
        call("json_array_length", es.head),
        call("size", call("json_object_keys", es.head)),
        If(IsNotNull(es.head), lit(1), Literal.create(null, IntegerType))))
    }
    f("json_object") { es => call("to_json", CreateNamedStruct(es)) }
    f("json_array") { es => call("to_json", CreateArray(es)) }

    // --- aggregate aliases / exact-distinct kernels ---
    f("ndv") { es => call("approx_count_distinct", es: _*) }
    f("boolor_agg") { es => call("bool_or", es: _*) }
    f("variance_pop") { es => call("var_pop", es: _*) }
    f("variance_samp") { es => call("var_samp", es: _*) }
    f("multi_distinct_count") { es =>
      Cast(Size(aggregate.CollectSet(es.head).toAggregateExpression()), LongType)
    }
    f("multi_distinct_sum") { es =>
      aggregate.Sum(es.head).toAggregateExpression(isDistinct = true)
    }
    f("group_concat") { es =>
      val sep = if (es.length > 1) es(1) else lit(",")
      call("array_join", call("array_sort",
        call("collect_list", Cast(es.head, StringType))), sep)
    }
    f("ds_hll_count_distinct") { es => call("approx_count_distinct", es: _*) }
    f("ds_hll_accumulate") { es => call("hll_sketch_agg", es: _*) }
    f("ds_hll_combine") { es => call("hll_union_agg", es: _*) }
    f("ds_hll_estimate") { es => call("hll_sketch_estimate", es: _*) }

    // --- bitmap constructors / text round-trip / intersect agg ---
    f("bitmap_agg") { es => graft.functions.agg.BitmapUnionAgg(es.head) }
    f("bitmap_union_count") { es =>
      graft.functions.agg.BitmapCount(
        graft.functions.agg.BitmapUnionAgg(es.head).toAggregateExpression())
    }
    f("bitmap_union_int") { es =>
      graft.functions.agg.BitmapCount(
        graft.functions.agg.BitmapUnionAgg(es.head).toAggregateExpression())
    }
    f("bitmap_intersect") { es => graft.functions.agg.BitmapIntersectAgg(es.head) }
    f("array_to_bitmap") { es => graft.functions.agg.ArrayToBitmap(es.head) }
    f("bitmap_from_string") { es => graft.functions.agg.BitmapFromString(es.head) }
    f("bitmap_to_string") { es => graft.functions.agg.BitmapToString(es.head) }
    f("bitmap_remove") { es => graft.functions.agg.BitmapRemove(es.head, es(1)) }
    f("bitmap_empty") { _ => graft.functions.agg.BitmapFromString(lit("")) }
    f("bitmap_hash") { es => graft.functions.agg.ToBitmap(call("xxhash64", es: _*)) }

    // --- shifts, session info, leftover aliases ---
    f("bit_shift_left") { es => call("shiftleft", es: _*) }
    f("bit_shift_right") { es => call("shiftright", es: _*) }
    f("bit_shift_right_logical") { es => call("shiftrightunsigned", es: _*) }
    f("date_floor") { es => call("time_slice", es: _*) }
    f("date_slice") { es => call("time_slice", es: _*) }
    f("curtime") { _ => call("current_timestamp") }
    f("localtime") { _ => call("current_timestamp") }
    f("utc_time") { _ => call("current_timestamp") }
    f("database") { _ => call("current_database") }
    f("schema") { _ => call("current_database") }
    f("catalog") { _ => call("current_catalog") }
    f("map_size") { es => call("size", es: _*) }
    f("max_by_v2") { es => call("max_by", es: _*) }
    f("min_by_v2") { es => call("min_by", es: _*) }
    f("array_agg_distinct") { es =>
      call("array_sort", call("collect_set", es: _*))
    }
    f("array_unique_agg") { es =>
      call("array_sort", call("collect_set", es: _*))
    }

    // --- geo WKT aliases ---
    f("st_geometryfromtext") { es => StPolygon(es.head) }
    f("st_geomfromtext") { es => StPolygon(es.head) }
    f("st_polygonfromtext") { es => StPolygon(es.head) }
    f("st_polyfromtext") { es => StPolygon(es.head) }
    f("st_astext") { es => StAsText(es.head) }
    f("st_aswkt") { es => StAsText(es.head) }
    f("st_polygon") { es => StPolygon(es.head) }
    f("st_contains") { es => StContains(es.head, es(1)) }
    f("st_within_box") { es =>
      val Seq(x, y, xmin, ymin, xmax, ymax) = es.take(6)
      And(And(GreaterThanOrEqual(x, xmin), LessThanOrEqual(x, xmax)),
        And(GreaterThanOrEqual(y, ymin), LessThanOrEqual(y, ymax)))
    }

    // --- vector distance (reference: functions.py:62-72) ---
    f("cosine_similarity") { es => graft.functions.CosineSimilarity(es.head, es(1)) }
    f("l2_distance") { es => graft.functions.L2Distance(es.head, es(1)) }
    f("dot_product") { es => graft.functions.DotProduct(es.head, es(1)) }
    buf.toList ++ CompatExtra.injections ++ CompatExtra2.injections
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    injections.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Translate a MySQL date-format string (%Y-%m-%d …) to java.time. */
  def mysqlToJavaFormat(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("yyyy")
          case 'y' => sb.append("yy")
          case 'm' => sb.append("MM")
          case 'c' => sb.append("M")
          case 'd' => sb.append("dd")
          case 'e' => sb.append("d")
          case 'H' => sb.append("HH")
          case 'k' => sb.append("H")
          case 'h' | 'I' => sb.append("hh")
          case 'i' => sb.append("mm")
          case 's' | 'S' => sb.append("ss")
          case 'f' => sb.append("SSSSSS")
          case 'p' => sb.append("a")
          case 'b' => sb.append("MMM")
          case 'M' => sb.append("MMMM")
          case 'a' => sb.append("EEE")
          case 'W' => sb.append("EEEE")
          case 'j' => sb.append("DDD")
          case 'T' => sb.append("HH:mm:ss")
          case '%' => sb.append('%')
          case other => sb.append(other)
        }
        i += 2
      } else {
        // quote literal letters so java.time doesn't interpret them
        if (c.isLetter) sb.append('\'').append(c).append('\'') else sb.append(c)
        i += 1
      }
    }
    sb.toString
  }
}
