package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** Second tranche of reference function names (FE
  * `catalog/FunctionSet.java`), closing the audit gaps that are
  * expressible as compositions of existing Catalyst expressions —
  * everything here stays inside whole-stage codegen. Kernels that
  * need real evaluation logic (xx_hash32, json editing,
  * array_contains_seq, uuid_v7, sleep) live in their own Expression
  * files; this object only builds and wires names.
  *
  * Deliberately NOT registered (documented skips): RBAC context
  * (current_role/current_group/is_role_in_session — the library has
  * no privilege system), variant internals (flat_json_meta), FE
  * dictionary/optimizer internals (dict_mapping, fused_*,
  * distinct_pc/pcsa, encode_sort_key, column_size, exchange_*),
  * crypto without a public-classpath impl (sm3, blake3,
  * xx_hash3_128), and names the FE itself can no longer call
  * (array_sort_lambda, map_apply — rewritten to lambdas before BE).
  */
object CompatExtra {

  private def call(name: String, args: Expression*): Expression =
    UnresolvedFunction(FunctionIdentifier(name), args, isDistinct = false)

  private def lit(v: Any): Expression = Literal(v)

  private def litStr(e: Expression, what: String): String = e match {
    case Literal(s, StringType) => String.valueOf(s)
    case _ => throw new IllegalArgumentException(s"$what must be a string literal")
  }

  /** StandardAnalyzer token array of an expression (lowercase
    * alphanumeric runs) — shared by tokenize('standard') and the MATCH
    * predicates. */
  private def stdTokens(e: Expression): Expression =
    call("array_remove",
      StringSplit(call("lower", e), lit("[^a-z0-9]+"), lit(-1)), lit(""))

  /** ±HH:MM:SS render of a (possibly negative) seconds expression —
    * shared by timediff / sec_to_time (reference
    * be/src/exprs/time_functions.cpp sec_to_time, timediff). */
  private def secondsToTime(secs: Expression): Expression = {
    val s = Cast(secs, LongType)
    val a = call("abs", s)
    val hh = IntegralDivide(a, lit(3600L), EvalMode.LEGACY)
    val mm = IntegralDivide(Remainder(a, lit(3600L), EvalMode.LEGACY), lit(60L), EvalMode.LEGACY)
    val ss = Remainder(a, lit(60L), EvalMode.LEGACY)
    call("concat",
      If(LessThan(s, lit(0L)), lit("-"), lit("")),
      call("lpad", Cast(hh, StringType), lit(2), lit("0")),
      lit(":"), call("lpad", Cast(mm, StringType), lit(2), lit("0")),
      lit(":"), call("lpad", Cast(ss, StringType), lit(2), lit("0")))
  }

  /** Translate a C-style strftime format to java.time (the subset the
    * reference's joda/strftime paths honor; %i is NOT minutes here —
    * that's the MySQL table in Compat.mysqlToJavaFormat). */
  def strftimeToJavaFormat(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("yyyy")
          case 'y' => sb.append("yy")
          case 'm' => sb.append("MM")
          case 'd' => sb.append("dd")
          case 'e' => sb.append("d")
          case 'H' => sb.append("HH")
          case 'I' => sb.append("hh")
          case 'M' => sb.append("mm")
          case 'S' => sb.append("ss")
          case 'f' => sb.append("SSSSSS")
          case 'p' => sb.append("a")
          case 'a' => sb.append("EEE")
          case 'A' => sb.append("EEEE")
          case 'b' | 'h' => sb.append("MMM")
          case 'B' => sb.append("MMMM")
          case 'j' => sb.append("DDD")
          case 'T' => sb.append("HH:mm:ss")
          case 'F' => sb.append("yyyy-MM-dd")
          case '%' => sb.append('%')
          case other => sb.append(other)
        }
        i += 2
      } else {
        if (c.isLetter) sb.append('\'').append(c).append('\'') else sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  lazy val injections: Seq[(String, Seq[Expression] => Expression)] = {
    val buf = scala.collection.mutable.ListBuffer.empty[(String, Seq[Expression] => Expression)]
    def f(name: String)(builder: Seq[Expression] => Expression): Unit =
      buf += (name -> builder)

    // --- math spelling compat (reference FunctionSet: DEGRESS sic, FPOW) ---
    f("degress") { es => call("degrees", es.head) }
    f("fpow") { es => call("power", es.head, es(1)) }
    f("materialize") { es => es.head } // BE materialize() is identity at plan level
    f("row") { es => CreateStruct(es) } // ROW(...) constructor ≡ struct

    // --- regexp (be/src/exprs/string_functions.cpp regexp_position:
    // 1-based position of first match, -1 when absent) ---
    f("regexp_position") { es =>
      val pos = call("regexp_instr", es.head, es(1))
      If(EqualTo(pos, lit(0)), lit(-1), pos)
    }

    // --- date/time (be/src/exprs/time_functions.cpp) ---
    // previous_day: closest strictly-earlier date with the given
    // day-of-week (next_day is Spark builtin with strictly-later
    // semantics; shift its result back one/two weeks).
    f("previous_day") { es =>
      val nd = call("next_day", es.head, es(1))
      If(EqualTo(call("datediff", nd, Cast(es.head, DateType)), lit(7)),
        call("date_sub", nd, lit(14)), call("date_sub", nd, lit(7)))
    }
    // timestampadd/timestampdiff with a *string* unit argument (the
    // keyword-unit forms are Spark SQL syntax; the reference also
    // accepts the function spelling)
    f("timestampadd") { es =>
      TimestampAdd(litStr(es.head, "timestampadd unit").toUpperCase, es(1),
        Cast(es(2), TimestampType))
    }
    f("timestampdiff") { es =>
      TimestampDiff(litStr(es.head, "timestampdiff unit").toUpperCase,
        Cast(es(1), TimestampType), Cast(es(2), TimestampType))
    }
    f("timediff") { es => // MySQL: t1 - t2 rendered as ±HH:MM:SS
      secondsToTime(Subtract(
        Cast(Cast(es.head, TimestampType), LongType),
        Cast(Cast(es(1), TimestampType), LongType)))
    }
    f("sec_to_time") { es => secondsToTime(es.head) }
    f("time_to_sec") { es => // 'HH:MM:SS' (optionally signed) → seconds
      val t = Cast(es.head, StringType)
      val sign = If(StartsWith(t, lit("-")), lit(-1L), lit(1L))
      val body = StringTrimLeft(t, Some(lit("-")))
      val parts = StringSplit(body, lit(":"), lit(-1))
      Multiply(sign, Add(
        Multiply(Cast(ElementAt(parts, lit(1)), LongType), lit(3600L)),
        Add(Multiply(Cast(ElementAt(parts, lit(2)), LongType), lit(60L)),
          Cast(ElementAt(parts, lit(3)), LongType))))
    }
    f("time_format") { es => // format a TIME-as-string with MySQL % tokens
      call("date_format",
        Cast(call("concat", lit("1970-01-01 "), Cast(es.head, StringType)), TimestampType),
        lit(Compat.mysqlToJavaFormat(litStr(es(1), "time_format format"))))
    }
    f("strftime") { es => // strftime(fmt, ts) — C-style tokens
      call("date_format", Cast(es(1), TimestampType),
        lit(strftimeToJavaFormat(litStr(es.head, "strftime format"))))
    }

    // --- format_bytes (be/src/exprs/string_functions.cpp:5336 —
    // 1024-based units, 2 decimals above bytes, NULL on negative) ---
    f("format_bytes") { es =>
      val b = Cast(es.head, LongType)
      def fmtAt(threshold: Long, unit: String): Expression =
        call("format_string", lit(s"%.2f $unit"),
          Divide(Cast(b, DoubleType), lit(threshold.toDouble), EvalMode.LEGACY))
      val kb = 1024L; val mb = kb * 1024; val gb = mb * 1024
      val tb = gb * 1024; val pb = tb * 1024; val eb = pb * 1024
      CaseWhen(Seq(
        (LessThan(b, lit(0L)), Literal(null, StringType)),
        (GreaterThanOrEqual(b, lit(eb)), fmtAt(eb, "EB")),
        (GreaterThanOrEqual(b, lit(pb)), fmtAt(pb, "PB")),
        (GreaterThanOrEqual(b, lit(tb)), fmtAt(tb, "TB")),
        (GreaterThanOrEqual(b, lit(gb)), fmtAt(gb, "GB")),
        (GreaterThanOrEqual(b, lit(mb)), fmtAt(mb, "MB")),
        (GreaterThanOrEqual(b, lit(kb)), fmtAt(kb, "KB"))),
        call("concat", Cast(b, StringType), lit(" B")))
    }

    // --- vector distance approx names → exact kernels (a strictly
    // better answer is a valid "approx"; reference pairs them) ---
    f("approx_cosine_similarity") { es => CosineSimilarity(es.head, es(1)) }
    f("approx_l2_distance") { es => L2Distance(es.head, es(1)) }

    // --- generators (reference TVFs): unnest / unnest_bitmap /
    // json_each as explode compositions ---
    f("unnest") { es => call("explode", es.head) }
    f("json_each") { es =>
      call("explode", call("from_json", es.head, lit("map<string,string>")))
    }

    // --- tokenize(method, text): GIN tokenizers
    // (be/src/exprs/gin_functions.cpp make_tokenize_analyzer —
    // 'english' = SimpleAnalyzer: lowercase, split at non-letters;
    // 'standard' ≈ StandardAnalyzer: lowercase, alphanumeric terms) ---
    f("tokenize") { es =>
      val pattern = litStr(es.head, "tokenize method").toLowerCase match {
        case "english" => "[^a-z]+"
        case "standard" | "chinese" => "[^a-z0-9]+"
        case other => throw new IllegalArgumentException(
          s"tokenize: unknown analyzer '$other' (english|standard|chinese)")
      }
      call("array_remove",
        StringSplit(call("lower", es(1)), lit(pattern), lit(-1)), lit(""))
    }

    // --- MATCH predicates (reference inverted-index SQL surface,
    // be/src/storage/column_predicate_inverted_index_fallback.h): the
    // scan-side fallback form — query terms tokenized like the column,
    // ANY = token-set overlap, ALL = no query term missing. The
    // indexed path is operators.InvertedIndex (postings semi-join). ---
    f("match_any") { es =>
      call("arrays_overlap", stdTokens(es.head), stdTokens(es(1)))
    }
    f("match_all") { es =>
      EqualTo(call("size",
        call("array_except", stdTokens(es(1)), stdTokens(es.head))), lit(0))
    }

    // --- binary ↔ string (reference to_binary/from_binary) ---
    f("from_binary") { es =>
      val fmt = if (es.length > 1) litStr(es(1), "from_binary format").toLowerCase
        else "hex"
      fmt match {
        case "hex" => call("hex", es.head)
        case "encode64" | "base64" => call("base64", es.head)
        case "utf8" => Cast(es.head, StringType)
        case other => throw new IllegalArgumentException(
          s"from_binary: unknown format '$other' (hex|encode64|utf8)")
      }
    }

    // --- variant getters → Spark 4 VariantType kernels
    // (get_variant_* in FunctionSet; variant_get is the Spark-native
    // path for the same typed-extraction semantics) ---
    for ((suffix, sqlType) <- Seq("string" -> "string", "int" -> "bigint",
        "double" -> "double", "bool" -> "boolean", "date" -> "date",
        "datetime" -> "timestamp")) {
      f(s"get_variant_$suffix") { es =>
        call("variant_get", es.head, es(1), lit(sqlType))
      }
    }
    f("variant_query") { es => call("variant_get", es.head, es(1), lit("string")) }
    f("variant_typeof") { es => call("schema_of_variant", es.head) }

    // --- geo constructors (GeoExpressions.scala) ---
    f("st_linefromtext") { es => StLine(es.head) }
    f("st_linestringfromtext") { es => StLine(es.head) }
    f("st_circle") { es => StCircle(es) }

    // --- more TVF/sketch name closures ---
    f("unnest_bitmap") { es => call("explode", call("bitmap_to_array", es.head)) }
    f("hll_raw") { es => call("hll_sketch_agg", es: _*) }
    // alignment_timestamp(precision, unix_seconds) → unix seconds
    // truncated to year/month/day/hour (FE Load.java:1168 rewrites to
    // unix_timestamp∘date_format∘from_unixtime; date_trunc is the same)
    f("alignment_timestamp") { es =>
      val precision = litStr(es.head, "alignment_timestamp precision").toLowerCase
      require(Seq("year", "month", "day", "hour").contains(precision),
        s"alignment_timestamp: unknown precision '$precision'")
      Cast(call("unix_timestamp",
        call("date_trunc", lit(precision), call("timestamp_seconds", es(1)))), LongType)
    }
    // to_tera_date(str, 'yyyy-mm-dd') — Teradata token format parse
    f("to_tera_date") { es =>
      val fmt = litStr(es(1), "to_tera_date format")
        .replace("mm", "MM").replace("hh24", "HH").replace("mi", "mm")
      call("to_date", es.head, lit(fmt))
    }

    // --- session metadata (reference utility_functions.cpp /
    // information functions; mapped to the Spark runtime's identities.
    // last_query_id returns NULL: the library keeps no statement
    // history — documented stand-in, not a fake id) ---
    f("host_name") { _ => lit(java.net.InetAddress.getLocalHost.getHostName) }
    f("current_version") { _ => lit("graft-" + org.apache.spark.SPARK_VERSION) }
    f("session_id") { _ =>
      lit(org.apache.spark.sql.SparkSession.active.sparkContext.applicationId)
    }
    f("connection_id") { _ =>
      lit(math.abs(org.apache.spark.sql.SparkSession.active
        .sparkContext.applicationId.hashCode.toLong))
    }
    f("query_id") { _ => lit(java.util.UUID.randomUUID().toString) }
    f("last_query_id") { _ => Literal(null, StringType) }

    // --- evaluation kernels (KernelExpressions.scala) ---
    f("xx_hash32") { es => XxHash32Expr(es.head) }
    f("array_contains_seq") { es => ArrayContainsSeq(es.head, es(1)) }
    f("uuid_v7") { _ => UuidV7() }
    f("sleep") { es => SleepExpr(es.head) }
    f("json_pretty") { es => JsonPretty(es.head) }
    f("is_json_scalar") { es => IsJsonScalar(es.head) }
    f("json_contains") { es => JsonContains(es.head, es(1)) }
    f("json_remove") { es => JsonRemove(es) }
    f("json_set") { es => JsonSet(es) }
    f("normalize_text") { es => NormalizeTextExpr(es.head) }
    f("jaro_winkler") { es => JaroWinklerExpr(es.head, es(1)) }

    // --- sketch column constructors (KernelExpressions.scala) ---
    f("hll_empty") { _ => HllEmpty() }
    f("hll_hash") { es => HllHash(es.head) }
    f("percentile_empty") { _ => PercentileEmpty() }
    f("percentile_hash") { es => PercentileHash(es.head) }
    // bitmap_hash64(v): bitmap of the 64-bit hash of v (reference
    // bitmap_functions.cpp bitmap_hash64) — Roaring64 stores the full
    // signed range, so the xxhash64 value goes in directly
    f("bitmap_hash64") { es => graft.functions.agg.ToBitmap(call("xxhash64", es.head)) }

    // --- aggregate kernels (agg/EventAggs.scala) ---
    f("retention") { es => graft.functions.agg.RetentionAgg(es.head) }
    f("sum_map") { es => graft.functions.agg.SumMapAgg(es.head) }

    buf.toList
  }
}
