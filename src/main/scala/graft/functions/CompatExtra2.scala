package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** Third tranche of reference function names (round-7 `Gates fns` sweep
  * over `gensrc/script/functions.py`) — everything here composes
  * existing Catalyst expressions, so it stays inside whole-stage
  * codegen like [[CompatExtra]].
  *
  * Deliberately NOT registered (extending CompatExtra's documented
  * skips): `__iceberg_transform_*` (FE partition-pruning internals),
  * `esquery`/`http_request`/`get_query_profile` (service-backed),
  * `uuid_numeric`/`uuid_v7_numeric` (LARGEINT return type — the
  * documented largeint family skip), `dict_encode` (BE low-cardinality
  * internal; the pattern lives in operators/Dictionary), `map_apply`/
  * `array_sort_lambda` (FE rewrites them to lambda forms before the
  * BE ever sees the name), `encode_sort_key` (BE sort-key internal),
  * `is_role_in_session` (RBAC), `xx_hash3_128` (no public-classpath
  * XXH3-128; xx_hash3_64 is covered). `json_value` looks missing in a
  * naive functions.py scrape but its registry row is COMMENTED OUT in
  * the reference — not a real FE name. After the round-7 second pass
  * below, `Gates fns` reported 27 misses over the 394 scraped names, all in
  * the documented-skip families above (plus blake3/sm3/md5sum_numeric/
  * get_variant_time from CompatExtra's list). */
object CompatExtra2 {

  private def call(name: String, args: Expression*): Expression =
    UnresolvedFunction(FunctionIdentifier(name), args, isDistinct = false)

  private def lit(v: Any): Expression = Literal(v)

  /** One-arg lambda `x -> body(x)` for higher-order functions. */
  private def lam(body: Expression => Expression): Expression = {
    val x = UnresolvedNamedLambdaVariable(Seq("x"))
    LambdaFunction(body(x), Seq(x))
  }

  /** Translate a Teradata format string (yyyy/mm/dd/hh/mi/ss, b for
    * space) to java.time — reference `to_tera_timestamp`
    * (`time_functions.cpp` teradata format parsing). */
  private[functions] def teraToJavaFormat(fmt: String): String = {
    val out = new StringBuilder
    var i = 0
    val s = fmt.toLowerCase
    while (i < s.length) {
      if (s.startsWith("yyyy", i)) { out.append("yyyy"); i += 4 }
      else if (s.startsWith("yy", i)) { out.append("yy"); i += 2 }
      else if (s.startsWith("mm", i)) { out.append("MM"); i += 2 }
      else if (s.startsWith("dd", i)) { out.append("dd"); i += 2 }
      else if (s.startsWith("hh24", i)) { out.append("HH"); i += 4 }
      else if (s.startsWith("hh", i)) { out.append("HH"); i += 2 }
      else if (s.startsWith("mi", i)) { out.append("mm"); i += 2 }
      else if (s.startsWith("ss", i)) { out.append("ss"); i += 2 }
      else if (s.charAt(i) == 'b') { out.append(' '); i += 1 }
      else { val c = s.charAt(i)
        if (c.isLetter) out.append('\'').append(c).append('\'') else out.append(c)
        i += 1 }
    }
    out.toString
  }

  lazy val injections: Seq[(String, Seq[Expression] => Expression)] = {
    val buf = scala.collection.mutable.ListBuffer.empty[(String, Seq[Expression] => Expression)]
    def f(name: String)(builder: Seq[Expression] => Expression): Unit =
      buf += (name -> builder)

    // --- string (string_functions.cpp) ---
    // strpos(str, sub) — 1-based, 0 when absent (Presto semantics the
    // reference adopted). The 3-arg instance form is FE-rewritten.
    f("strpos") { es =>
      require(es.length == 2, "strpos(str, substr)")
      call("instr", es.head, es(1))
    }
    f("regexp_split") { es => call("split", es: _*) }
    f("replace_old") { es => call("replace", es: _*) }
    // bar(x, min, max, width) — ClickHouse-style block bar used by the
    // reference's profile visualization; full blocks, clamped [0,width].
    f("bar") { es =>
      val Seq(x, mn, mx, w) = es.toSeq
      val frac = Divide(Subtract(Cast(x, DoubleType), Cast(mn, DoubleType)),
        Subtract(Cast(mx, DoubleType), Cast(mn, DoubleType)))
      val n = call("greatest", lit(0),
        call("least", Cast(w, IntegerType),
          Cast(call("floor", Multiply(frac, Cast(w, DoubleType))), IntegerType)))
      call("repeat", lit("█"), n)
    }

    // --- date/time (time_functions.cpp) ---
    f("milliseconds_diff") { es =>
      Subtract(call("unix_millis", Cast(es.head, TimestampType)),
        call("unix_millis", Cast(es(1), TimestampType)))
    }
    // to_iso8601: DATE → yyyy-MM-dd; DATETIME → full T-form with
    // microseconds (reference time_functions.cpp to_iso8601).
    f("to_iso8601") { es =>
      If(EqualTo(call("typeof", es.head), lit("date")),
        call("date_format", es.head, lit("yyyy-MM-dd")),
        call("date_format", es.head, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")))
    }
    f("to_datetime_ntz") { es => Cast(es.head, TimestampNTZType) }
    // joda-pattern pair: the common joda letters (yyyy MM dd HH mm ss
    // EEE …) coincide with java.time, which is also how the reference
    // maps them (jodatime_format → DateTimeFormatter).
    f("jodatime_format") { es => call("date_format", es.head, es(1)) }
    f("str_to_jodatime") { es => call("to_timestamp", es.head, es(1)) }
    f("to_tera_timestamp") { es =>
      val fmt = es(1) match {
        case Literal(s, StringType) => String.valueOf(s)
        case _ => throw new IllegalArgumentException(
          "to_tera_timestamp format must be a string literal")
      }
      call("to_timestamp", es.head, lit(teraToJavaFormat(fmt)))
    }
    // yearweek(d) — MySQL mode 0: weeks start Sunday; days before the
    // year's first Sunday belong to the PREVIOUS year's last week.
    f("yearweek") { es =>
      val d = Cast(es.head, DateType)
      def jan1(dd: Expression) = call("trunc", dd, lit("year"))
      // first Sunday of the year containing dd (dayofweek: 1=Sunday)
      def firstSunday(dd: Expression) = {
        val j = jan1(dd)
        call("date_add", j, Pmod(Subtract(lit(8), call("dayofweek", j)), lit(7)))
      }
      def weekFrom(fs: Expression) =
        Add(Cast(Divide(Cast(call("datediff", d, fs), DoubleType), lit(7.0)), IntegerType), lit(1))
      val fsThis = firstSunday(d)
      val prevYearDate = call("date_sub", jan1(d), lit(1))
      val fsPrev = firstSunday(prevYearDate)
      If(GreaterThanOrEqual(d, fsThis),
        Add(Multiply(call("year", d), lit(100)), weekFrom(fsThis)),
        Add(Multiply(call("year", prevYearDate), lit(100)), weekFrom(fsPrev)))
    }

    // --- numeric / misc ---
    f("equiwidth_bucket") { es => call("width_bucket", es: _*) }
    f("inet_aton") { es =>
      val parts = call("split", es.head, lit("\\."))
      val valid = And(EqualTo(call("size", parts), lit(4)),
        Not(call("exists", parts,
          lam(x => Or(Not(call("rlike", x, lit("^\\d{1,3}$"))),
            GreaterThan(Cast(x, IntegerType), lit(255)))))))
      def oct(i: Int) = Cast(call("element_at", parts, lit(i)), LongType)
      If(valid,
        Add(Add(Add(Multiply(oct(1), lit(16777216L)), Multiply(oct(2), lit(65536L))),
          Multiply(oct(3), lit(256L))), oct(4)),
        Literal(null, LongType))
    }

    // --- URL (url_functions) ---
    f("url_extract_host") { es => call("parse_url", es.head, lit("HOST")) }
    f("url_extract_parameter") { es =>
      call("parse_url", es.head, lit("QUERY"), es(1)) }

    // --- array ---
    // array_top_n(arr, n): n largest values descending, nulls dropped
    f("array_top_n") { es =>
      call("slice",
        call("reverse", call("array_sort",
          call("filter", es.head, lam(x => IsNotNull(x))))),
        lit(1), es(1))
    }
    f("distinct_map_keys") { es =>
      // Spark maps cannot hold duplicate keys (last-wins applied at
      // construction), so the reference's key-dedup is the identity
      es.head
    }

    // --- bitmap (bitmap_functions.cpp; our bitmap = serialized binary) ---
    f("bitmap_to_binary") { es => es.head }
    f("bitmap_from_binary") { es => es.head }
    f("bitmap_to_base64") { es => call("base64", es.head) }
    f("base64_to_bitmap") { es => call("unbase64", es.head) }
    // subset of values in [lo, hi)
    f("bitmap_subset_in_range") { es =>
      call("array_to_bitmap", call("filter", call("bitmap_to_array", es.head),
        lam(x => And(GreaterThanOrEqual(x, es(1)), LessThan(x, es(2))))))
    }
    // up to `limit` ascending values starting at range_start
    // (positive-limit form; the negative "backward" form is not mapped)
    f("bitmap_subset_limit") { es =>
      call("array_to_bitmap",
        call("slice",
          call("array_sort", call("filter", call("bitmap_to_array", es.head),
            lam(x => GreaterThanOrEqual(x, es(1))))),
          lit(1), es(2)))
    }

    // --- HLL (hyperloglog_functions.cpp; our hll = serialized binary) ---
    f("hll_serialize") { es => es.head }
    f("hll_deserialize") { es => es.head }

    // ai_query(model, prompt) — the SQL-visible form of the STUBBED
    // inference (`be/src/exprs/ai_functions.h:24`): same deterministic
    // label as operators/AiQuery.inferBatch, so the scalar and the
    // batched mapPartitions surface agree; swap both for a real
    // endpoint client together.
    f("ai_query") { es =>
      Cast(call("concat", lit("label_"),
        Cast(Pmod(Multiply(call("coalesce", call("length", es(1)), lit(0)),
          lit(31)), lit(5)), StringType)), StringType)
    }

    // --- round-7 second `Gates fns` pass: the last composable names ---
    // dlog1 — MathFunctions::ln under a Teradata-ism name
    // (functions.py:89 maps it straight to ln)
    f("dlog1") { es => call("ln", es.head) }
    // base64/hex decode pairs (string_functions.cpp): _binary returns
    // VARBINARY, _string the UTF-8 reading of those bytes
    f("base64_decode_binary") { es => call("unbase64", es.head) }
    f("base64_decode_string") { es =>
      Cast(call("unbase64", es.head), StringType) }
    f("hex_decode_binary") { es => call("unhex", es.head) }
    f("hex_decode_string") { es => Cast(call("unhex", es.head), StringType) }
    // json_keys(json[, path]) (JsonFunctions::json_keys) — top-level
    // key array; the path form keys the sub-object at path
    f("json_keys") { es =>
      if (es.length == 1) call("json_object_keys", es.head)
      else call("json_object_keys", call("get_json_object", es.head, es(1)))
    }
    // json_string(json) (JsonFunctions::json_string): serialize to
    // VARCHAR, unquoting scalar strings — exactly get_json_object at
    // the root path
    f("json_string") { es => call("get_json_object", es.head, lit("$")) }
    // get_json_scalar(json, path): the value at path IF it is a
    // scalar, NULL for object/array results (get_json_scalar_string).
    // Classified by the VARIANT type at the path (schema_of_variant),
    // not by the extracted text's shape — a string scalar whose
    // CONTENT looks like "{...}" still comes back as the scalar.
    f("get_json_scalar") { es =>
      val v = call("try_variant_get",
        call("try_parse_json", es.head), es(1), lit("variant"))
      val kind = call("schema_of_variant", v)
      If(Or(StartsWith(kind, lit("OBJECT")), StartsWith(kind, lit("ARRAY"))),
        Literal(null, StringType),
        Cast(v, StringType))
    }
    // cosine_similarity_norm(a, b) — the unit-norm fast path
    // (MathFunctions::cosine_similarity<TYPE_FLOAT, true>): inputs are
    // pre-normalized, so similarity = the dot product
    f("cosine_similarity_norm") { es =>
      graft.functions.DotProduct(es.head, es(1)) }
    // encode_fingerprint_sha256(any...) (EncryptionFunctions) —
    // VARBINARY sha-256 fingerprint over the argument tuple. Each arg
    // is netstring-encoded (N; for NULL, V<len>:<text> otherwise) so
    // the encoding is injective: (x, NULL) != (x), and a value that
    // contains any would-be separator cannot collide with a split
    // tuple (concat_ws would silently drop NULLs and merge on
    // separator-bearing strings).
    f("encode_fingerprint_sha256") { es =>
      val parts = es.map { e =>
        val s = Cast(e, StringType)
        If(IsNull(s), lit("N;"),
          Concat(Seq(lit("V"), Cast(call("length", s), StringType),
            lit(":"), s)))
      }
      call("unhex", call("sha2", Concat(parts), lit(256)))
    }

    buf.toList
  }
}
