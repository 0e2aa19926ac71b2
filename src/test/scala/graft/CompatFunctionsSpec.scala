package graft

import org.apache.spark.sql.functions._

class CompatFunctionsSpec extends SparkSuite {
  import spark.implicits._

  private def one(sql: String): Any = spark.sql(s"SELECT $sql").head.get(0)

  test("xx_hash32 matches the published XXH32 spec vectors") {
    assert(one("xx_hash32('')") === 0x02CC5D05)
    assert(one("xx_hash32('a')") === 0x550D7456)
    assert(one("xx_hash32('abc')") === 0x32D153FF)
    // >=16 bytes exercises the 4-lane stripe loop
    assert(one("xx_hash32('Nobody inspects the spammish repetition')") === 0xE2293B2F)
  }

  test("hll_hash sketches union with agg-built sketches without double counting") {
    // same values via hll_hash-per-row-then-union vs hll_raw_agg must
    // estimate identically, or AGG-table seeding would inflate NDV
    val viaHash = spark.sql(
      "SELECT hll_sketch_estimate(hll_union_agg(h)) FROM " +
        "(SELECT hll_hash(c) AS h FROM VALUES ('x'),('y'),('x') AS t(c))").head.getLong(0)
    val viaAgg = spark.sql(
      "SELECT hll_sketch_estimate(hll_raw_agg(c)) FROM VALUES ('x'),('y'),('x') AS t(c)")
      .head.getLong(0)
    assert(viaHash === 2L && viaAgg === 2L)
    // merged: still 2 distinct, not 4
    val merged = spark.sql(
      "SELECT hll_sketch_estimate(hll_union(hll_raw_agg(c), hll_union_agg(hll_hash(c)))) " +
        "FROM VALUES ('x'),('y') AS t(c)").head.getLong(0)
    assert(merged === 2L)
    // hll_empty is the union identity
    val withEmpty = spark.sql(
      "SELECT hll_sketch_estimate(hll_union(hll_empty(), hll_hash('z')))").head.getLong(0)
    assert(withEmpty === 1L)
  }

  test("percentile sketch constructors merge with percentile_union") {
    val q = spark.sql(
      "SELECT percentile_approx_raw(percentile_union(p), 0.5d) FROM " +
        "(SELECT percentile_hash(c) AS p FROM VALUES (1.0),(2.0),(3.0) AS t(c))")
      .head.getDouble(0)
    assert(q === 2.0)
  }

  test("json editing kernels: set/remove/contains/pretty edge cases") {
    assert(one("""json_set('{"a":1}', '$.b[0]', 1)""") === """{"a":1}""") // missing parent: unchanged
    assert(one("""json_set('[1,2]', '$[2]', 9)""") === "[1,2,9]") // append at end
    assert(one("""json_remove('{"a":{"b":1,"c":2}}', '$.a.b')""") === """{"a":{"c":2}}""")
    assert(one("""json_remove('{"a":1}', '$.zzz')""") === """{"a":1}""") // missing: unchanged
    assert(one("""json_contains('[1,2,3]', '2')""") === true)
    assert(one("""json_contains('{"a":1,"b":2}', '{"a":1}')""") === true)
    assert(one("""json_contains('{"a":1}', '{"a":2}')""") === false)
    assert(one("""is_json_scalar('not json {')""") === null)
    assert(one("""json_pretty('nope[')""") === null)
  }

  test("retention and sum_map aggregate kernels") {
    val r = spark.sql(
      "SELECT retention(array(c = 'a', c = 'b', c = 'z')) FROM VALUES ('a'),('b') AS t(c)")
      .head.getSeq[Boolean](0)
    assert(r === Seq(true, true, false))
    // no first-step event → later steps are false even if their conds fired
    val r2 = spark.sql(
      "SELECT retention(array(c = 'nope', c = 'b', c = 'z')) FROM VALUES ('a'),('b') AS t(c)")
      .head.getSeq[Boolean](0)
    assert(r2 === Seq(false, false, false))
    val m = spark.sql(
      "SELECT sum_map(map(k, v)) FROM VALUES ('a', 1.0),('b', 2.0),('a', 3.0) AS t(k, v)")
      .head.getMap[String, Double](0)
    assert(m === Map("a" -> 4.0, "b" -> 2.0))
  }

  test("array_contains_seq: contiguity, empties, strings") {
    assert(one("array_contains_seq(array(1,2,3,4), array(3,4))") === true)
    assert(one("array_contains_seq(array(1,2,3,4), array(1,3))") === false)
    assert(one("array_contains_seq(array('x','y'), array('y'))") === true)
    assert(one("array_contains_seq(CAST(array() AS ARRAY<INT>), CAST(array() AS ARRAY<INT>))") === true)
  }

  test("geo line/circle constructors round-trip through st_astext") {
    assert(one("st_astext(st_linefromtext('LINESTRING (1 1, 2 2, 3 3)'))") ===
      "LINESTRING (1 1, 2 2, 3 3)")
    assert(one("st_astext(st_circle(111, 64, 10000))") === "CIRCLE ((111 64), 10000)")
    assert(one("st_linefromtext('LINESTRING (1 1)')") === null) // <2 points
    assert(one("st_linefromtext('garbage')") === null)
  }

  test("session metadata and utility names resolve") {
    assert(one("current_version()").toString.startsWith("graft-"))
    assert(one("host_name()").toString.nonEmpty)
    assert(one("session_id()").toString.nonEmpty)
    assert(one("connection_id()").asInstanceOf[Long] >= 0L)
    assert(one("query_id()").toString.length === 36)
    assert(one("last_query_id()") === null)
    assert(one("alignment_timestamp('hour', 3725)") === 3600L)
    assert(one("to_tera_date('2024-01-15', 'yyyy-mm-dd')").toString === "2024-01-15")
    val t0 = System.nanoTime()
    assert(one("sleep(0.05)") === true)
    assert(System.nanoTime() - t0 >= 50 * 1000 * 1000L)
  }

  test("time rendering kernels") {
    assert(one("sec_to_time(3661)") === "01:01:01")
    assert(one("sec_to_time(-90)") === "-00:01:30")
    assert(one("time_to_sec('01:01:01')") === 3661L)
    assert(one("time_to_sec('-00:01:30')") === -90L)
    assert(one("timediff(timestamp '2024-01-02 00:00:00', timestamp '2024-01-01 12:30:00')") === "11:30:00")
    assert(one("format_bytes(0)") === "0 B")
    assert(one("format_bytes(1536)") === "1.50 KB")
    assert(one("format_bytes(-1)") === null)
    assert(one("previous_day(date '2024-01-10', 'Wednesday')") // 2024-01-10 IS a Wednesday
      .toString === "2024-01-03")
  }

  test("graft names register once and replace exactly the listed Spark builtins") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val names = graft.functions.Compat.injections.map(_._1)
    assert(names.diff(names.distinct).isEmpty, "registered twice")
    assert(names.filter(n => FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
      .toSet === graft.functions.Compat.builtinOverrides.keySet)
    // the Spark builtins behind graft's former copies answer exactly as
    // the copies did (lower/upper/length/size) on null, empty, non-ASCII
    val rows = spark.sql("""SELECT lcase(s), lower(s), ucase(s), upper(s),
        |  char_length(s), length(s), cardinality(a), size(a)
        |FROM VALUES (CAST(NULL AS STRING), CAST(NULL AS ARRAY<STRING>)),
        |  ('', array()), ('Ärger STRASSE straße 😀', array('é', 'ß', '😀')) AS t(s, a)""".stripMargin)
      .collect()
    rows.foreach(r => (0 until 8 by 2).foreach(i =>
      assert(r.get(i) == r.get(i + 1), s"column $i of $r")))
    assert(rows.last.getString(0) === "ärger strasse straße 😀")
    assert(rows.last.getInt(4) === 22 && rows.last.getInt(6) === 3)
  }

  test("dayname / monthname") {
    assert(one("dayname(timestamp '2024-01-01')") === "Monday")
    assert(one("monthname(timestamp '2024-03-15')") === "March")
  }

  test("date unit add/sub keep timestamp type") {
    assert(one("months_add(timestamp '2024-01-31', 1)").toString.startsWith("2024-02-29"))
    assert(one("days_sub(timestamp '2024-03-01', 1)").toString.startsWith("2024-02-29"))
    assert(one("hours_add(timestamp '2024-01-01 23:30:00', 2)").toString.startsWith("2024-01-02 01:30"))
  }

  test("time_slice aligns to buckets from epoch") {
    assert(one("time_slice(timestamp '2024-01-01 10:17:00', 15, 'minute')").toString
      .startsWith("2024-01-01 10:15"))
    assert(one("time_slice(timestamp '2024-01-01 10:17:00', 15, 'minute', 'ceil')").toString
      .startsWith("2024-01-01 10:30"))
    assert(one("time_slice(timestamp '2024-05-20', 3, 'month')").toString
      .startsWith("2024-04-01"))
  }

  test("str_to_date parses MySQL formats") {
    assert(one("str_to_date('2024-03-05 10:20:30', '%Y-%m-%d %H:%i:%s')").toString
      === "2024-03-05 10:20:30.0")
    assert(one("str2date('05/03/2024', '%d/%m/%Y')").toString === "2024-03-05")
  }

  test("strcmp") {
    assert(one("strcmp('a', 'b')") === -1)
    assert(one("strcmp('b', 'b')") === 0)
    assert(one("strcmp('c', 'b')") === 1)
  }

  test("money_format groups thousands") {
    assert(one("money_format(1234567.891)") === "1,234,567.89")
    assert(one("money_format(-999.5)") === "-999.50")
  }

  test("bit compat functions") {
    assert(one("bitand(12, 10)") === 8)
    assert(one("bitor(12, 10)") === 14)
    assert(one("bitxor(12, 10)") === 6)
    assert(one("bitshiftleft(1, 4)") === 16)
  }

  test("truncate is toward-zero at given scale") {
    assert(one("truncate(3.789, 1)") === 3.7)
    assert(one("truncate(-3.789, 1)") === -3.7)
  }

  test("null_or_empty / append_trailing_char_if_absent") {
    assert(one("null_or_empty('')") === true)
    assert(one("null_or_empty('x')") === false)
    assert(one("append_trailing_char_if_absent('abc', 'c')") === "abc")
    assert(one("append_trailing_char_if_absent('ab', 'c')") === "abc")
  }

  test("hash aliases map to Spark kernels") {
    assert(one("murmur_hash3_32('abc')") === one("hash('abc')"))
    assert(one("xx_hash3_64('abc')") === one("xxhash64('abc')"))
  }

  test("mysqlToJavaFormat translation table") {
    import graft.functions.Compat.mysqlToJavaFormat
    assert(mysqlToJavaFormat("%Y-%m-%d") === "yyyy-MM-dd")
    assert(mysqlToJavaFormat("%H:%i:%s") === "HH:mm:ss")
    assert(mysqlToJavaFormat("%d/%b/%Y") === "dd/MMM/yyyy")
  }

  test("property: strcmp is antisymmetric and consistent with ordering") {
    val rnd = new scala.util.Random(42)
    val samples = Seq.fill(50)((rnd.alphanumeric.take(rnd.nextInt(10)).mkString,
      rnd.alphanumeric.take(rnd.nextInt(10)).mkString))
    val rows = samples.toDF("a", "b")
      .selectExpr("a", "b", "strcmp(a, b) AS ab", "strcmp(b, a) AS ba").collect()
    rows.foreach { r =>
      val (a, b, ab, ba) = (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))
      assert(ab === -ba || (ab === 0 && ba === 0))
      assert((ab < 0) === (a < b))
    }
  }

  test("property: time_slice floor is idempotent") {
    val rnd = new scala.util.Random(42)
    val epochs = Seq.fill(50)(math.abs(rnd.nextLong()) % 1700000000L)
    val rows = epochs.toDF("e")
      .selectExpr("time_slice(timestamp_seconds(e), 7, 'hour') AS s")
      .selectExpr("s", "time_slice(s, 7, 'hour') AS s2").collect()
    rows.foreach(r => assert(r.get(0) === r.get(1)))
  }

  test("convert_tz, to_days/from_days, field") {
    val r = spark.sql(
      """SELECT
        |  convert_tz(timestamp'2024-06-01 12:00:00', 'UTC', 'America/New_York') AS ny,
        |  to_days(date'1970-01-01') AS d0,
        |  to_days(date'2024-01-01') AS d1,
        |  from_days(719528) AS epoch_day,
        |  field('b', 'a', 'b', 'c') AS f2,
        |  field('z', 'a', 'b', 'c') AS f0""".stripMargin).head
    assert(r.getAs[java.time.LocalDateTime]("ny") ===
      java.time.LocalDateTime.of(2024, 6, 1, 8, 0, 0))
    assert(r.getAs[Int]("d0") === 719528)
    assert(r.getAs[Int]("d1") === 719528 + 19723)
    assert(r.getAs[java.sql.Date]("epoch_day").toString === "1970-01-01")
    assert(r.getAs[Int]("f2") === 2 && r.getAs[Int]("f0") === 0)
  }

  test("st_polygon + st_contains: convex, non-convex, outside") {
    val r = spark.sql(
      """SELECT
        |  st_contains(st_polygon('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'), st_point(5.0d, 5.0d)) AS sq_in,
        |  st_contains(st_polygon('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'), st_point(15.0d, 5.0d)) AS sq_out,
        |  st_contains(st_polygon('POLYGON ((0 0, 10 0, 5 4, 10 10, 0 10, 0 0))'), st_point(8.0d, 5.0d)) AS notch_out,
        |  st_contains(st_polygon('POLYGON ((0 0, 10 0, 5 4, 10 10, 0 10, 0 0))'), st_point(2.0d, 5.0d)) AS notch_in
        |""".stripMargin).head
    assert(r.getBoolean(0) === true)
    assert(r.getBoolean(1) === false)
    assert(r.getBoolean(2) === false) // inside the concave notch = outside the polygon
    assert(r.getBoolean(3) === true)
  }

  test("lenient nulls: malformed WKT, empty digest, bad sub_bitmap range") {
    val r = spark.sql(
      """SELECT
        |  st_contains(st_polygon('POLYGON ((oops))'), st_point(1.0d, 1.0d)) AS bad_wkt,
        |  sub_bitmap(bitmap_from_string('1,2,3'), 99, 5) AS bad_range,
        |  array_sortby(array(1, 2, 3), array(1, 2)) AS bad_lens
        |""".stripMargin).head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("GraftExtensions: injections list powers the extensions entry point") {
    // reflection-instantiable (how spark.sql.extensions loads it) …
    val ext = Class.forName("graft.GraftExtensions").getDeclaredConstructor().newInstance()
      .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
    ext.apply(new org.apache.spark.sql.SparkSessionExtensions) // must not throw
    // … and the injected builders evaluate standalone
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val byName = graft.functions.Compat.injections.toMap
    assert(byName.size >= 40, s"expected a broad registry, got ${byName.size}")
    val band = spark.range(1)
      .select(ColumnBridge.column(byName("bitand")(Seq(Literal(12), Literal(10)))))
      .head.get(0)
    assert(band === 8)
  }

  test("round-7 bitmap tranche: base64/binary round trips and value subsets") {
    // base64 round trip preserves the serialized bitmap exactly
    assert(one(
      "bitmap_to_string(base64_to_bitmap(bitmap_to_base64(bitmap_from_string('1,3,5,200'))))")
      === "1,3,5,200")
    // bitmap_to_binary/bitmap_from_binary are the identity on the
    // (already-portable) serialized form
    assert(one(
      "bitmap_count(bitmap_from_binary(bitmap_to_binary(bitmap_from_string('7,9'))))") === 2L)
    // subset in [lo, hi) — half-open per the reference
    assert(one(
      "bitmap_to_string(bitmap_subset_in_range(bitmap_from_string('1,3,5,7,9'), 3, 8))")
      === "3,5,7")
    // up to `limit` ascending values starting at range_start
    assert(one(
      "bitmap_to_string(bitmap_subset_limit(bitmap_from_string('1,3,5,7,9'), 4, 2))")
      === "5,7")
    // hll serialize/deserialize: identity on the sketch binary
    assert(one(
      "hll_sketch_estimate(hll_deserialize(hll_serialize(hll_raw_agg(c)))) FROM VALUES ('x'),('y') AS t(c)")
      === 2L)
    // SQL ai_query agrees with the batched operator stub
    assert(one("ai_query('m', 'hello')") ===
      graft.operators.AiQuery.inferBatch("m", Seq("hello")).head)
    assert(one("ai_query('m', CAST(NULL AS STRING))") ===
      graft.operators.AiQuery.inferBatch("m", Seq(null)).head)
  }

  test("round-7 second pass: decode pairs, json helpers, norm cosine, fingerprint") {
    assert(math.abs(one("dlog1(exp(2.5d))").asInstanceOf[Double] - 2.5) < 1e-12)
    // decode pairs invert the encode builtins
    assert(one("base64_decode_string(base64('graft'))") === "graft")
    assert(one("hex_decode_string(hex('graft'))") === "graft")
    assert(new String(one("base64_decode_binary(base64('ab'))")
      .asInstanceOf[Array[Byte]], "UTF-8") === "ab")
    assert(new String(one("hex_decode_binary(hex('ab'))")
      .asInstanceOf[Array[Byte]], "UTF-8") === "ab")
    // json_keys: top-level and at-path key sets
    assert(one("""json_keys('{"a":1,"b":{"c":2}}')""")
      .asInstanceOf[scala.collection.Seq[String]].toSeq === Seq("a", "b"))
    assert(one("""json_keys('{"a":1,"b":{"c":2}}', '$.b')""")
      .asInstanceOf[scala.collection.Seq[String]].toSeq === Seq("c"))
    // json_string serializes; scalar strings come back unquoted
    assert(one("""json_string('{"a":1}')""") === """{"a":1}""")
    assert(one("""json_string('"User ID"')""") === "User ID")
    // get_json_scalar: scalars pass, object/array results are NULL
    assert(one("""get_json_scalar('{"a":7}', '$.a')""") === "7")
    assert(one("""get_json_scalar('{"a":{"b":1}}', '$.a')""") === null)
    assert(one("""get_json_scalar('{"a":[1,2]}', '$.a')""") === null)
    // a STRING scalar whose content looks like an object is a scalar —
    // classification is by the variant type at the path, not the text
    assert(one("""get_json_scalar('{"a":"{not an object}"}', '$.a')""")
      === "{not an object}")
    assert(one("""get_json_scalar('{"a":true}', '$.a')""") === "true")
    assert(one("""get_json_scalar('not json {', '$.a')""") === null)
    // unit-norm cosine == dot product == full cosine on unit vectors
    assert(math.abs(one("cosine_similarity_norm(array(0.6f,0.8f), array(0.6f,0.8f))")
      .asInstanceOf[Double] - 1.0) < 1e-6)
    assert(math.abs(one("cosine_similarity_norm(array(1.0f,0.0f), array(0.0f,1.0f))")
      .asInstanceOf[Double]) < 1e-6)
    // fingerprint: deterministic, 32 bytes, argument-order sensitive
    val fp = one("encode_fingerprint_sha256('a', 1, DATE '2020-01-01')")
      .asInstanceOf[Array[Byte]]
    assert(fp.length === 32)
    assert(!java.util.Arrays.equals(fp,
      one("encode_fingerprint_sha256('a', 2, DATE '2020-01-01')")
        .asInstanceOf[Array[Byte]]))
    // injective encoding: a NULL arg is not droppable, and a value
    // containing a would-be separator cannot collide with a split pair
    def fpOf(sql: String) = one(sql).asInstanceOf[Array[Byte]]
    assert(!java.util.Arrays.equals(
      fpOf("encode_fingerprint_sha256('a', CAST(NULL AS STRING))"),
      fpOf("encode_fingerprint_sha256('a')")))
    assert(!java.util.Arrays.equals(
      fpOf("encode_fingerprint_sha256('a', 'b')"),
      fpOf("encode_fingerprint_sha256('ab')")))
    assert(!java.util.Arrays.equals(
      fpOf("encode_fingerprint_sha256('V1:a', 'b')"),
      fpOf("encode_fingerprint_sha256('V1:a', 'c')")))
  }
}
