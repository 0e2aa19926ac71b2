package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import util._

/** Oracle gates for the round-2 kernel tranche (CompatExtra /
  * KernelExpressions / EventAggs): time rendering, strftime,
  * format_bytes, tokenize, xx_hash32 (spec vectors), JSON editing,
  * variant getters, retention / sum_map aggregate kernels.
  *
  * Where DuckDB has no equivalent function the oracle recomputes the
  * expected value from first principles (or pins published spec
  * vectors as literals) — same hard rows+schema+hash gate either way.
  */
object CompatKernels extends graft.QueryArea {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "compat_time_kernels" -> ((spark, dir) => sqlq(spark, dir)(
      """SELECT o_orderkey,
        |  timediff(CAST(o_orderdate AS TIMESTAMP), TIMESTAMP '1995-06-01 12:30:45') AS td,
        |  sec_to_time(o_orderkey % 90000) AS s2t,
        |  time_to_sec(sec_to_time(o_orderkey % 90000)) AS t2s,
        |  CAST(previous_day(o_orderdate, 'Monday') AS STRING) AS prev_mon,
        |  strftime('%Y-%m-%d %H:%M:%S', o_orderdate) AS sft,
        |  time_format('18:23:45', '%H-%i') AS tfmt,
        |  CAST(timestampadd(DAY, 5, o_orderdate) AS TIMESTAMP) AS tsa,
        |  timestampdiff(HOUR, TIMESTAMP '1995-01-01 00:00:00', CAST(o_orderdate AS TIMESTAMP)) AS tsd,
        |  format_bytes(o_orderkey % 1000) AS fb_b,
        |  format_bytes(2560) AS fb_kb,
        |  format_bytes(3670016) AS fb_mb,
        |  format_bytes(-5) AS fb_null,
        |  regexp_position(o_orderpriority, '[A-Z]+') AS rp
        |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin)),

    "compat_text_kernels" -> ((spark, dir) => sqlq(spark, dir)(
      """SELECT p_partkey,
        |  array_join(tokenize('english', p_name), ' ') AS toks,
        |  array_join(tokenize('standard', concat(p_brand, ' ', p_size)), ' ') AS toks_std,
        |  xx_hash32('') AS xh_empty,
        |  xx_hash32('a') AS xh_a,
        |  xx_hash32('abc') AS xh_abc,
        |  xx_hash32(p_name) = xx_hash32(p_name) AS xh_stable,
        |  array_contains_seq(array(1, 2, 3, 4), array(2, 3)) AS acs_yes,
        |  array_contains_seq(array(1, 2, 3, 4), array(2, 4)) AS acs_no,
        |  array_contains_seq(array(1, 2), CAST(array() AS ARRAY<INT>)) AS acs_empty,
        |  from_binary(CAST('abc' AS BINARY), 'hex') AS fb_hex,
        |  from_binary(CAST('abc' AS BINARY), 'encode64') AS fb_b64,
        |  round(degress(pi() / 2), 4) AS deg,
        |  fpow(2, 10) AS fp,
        |  materialize(p_partkey) AS mat,
        |  uuid_v7() RLIKE '^[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$' AS u7_ok
        |FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""".stripMargin)),

    "compat_json_edit" -> ((spark, dir) => sqlq(spark, dir)(
      """SELECT event_id,
        |  json_set(props, '$.x', 5) AS jset,
        |  json_remove(props, '$.k') AS jrem,
        |  json_contains(props, '{"k": 69}') AS jcont,
        |  json_pretty(props) AS jpretty,
        |  is_json_scalar(props) AS scalar_doc,
        |  is_json_scalar('5') AS scalar_lit,
        |  get_variant_int(parse_json(props), '$.k') AS vk,
        |  CAST(variant_typeof(parse_json(props)) AS STRING) AS vt
        |FROM events WHERE event_id < 1000 ORDER BY event_id""".stripMargin)),

    "compat_event_aggs" -> ((spark, dir) => sqlq(spark, dir)(
      """SELECT user_id,
        |  r[0] AS r_view, r[1] AS r_click, r[2] AS r_purchase
        |FROM (
        |  SELECT user_id,
        |    retention(array(event_type = 'view', event_type = 'click',
        |                    event_type = 'purchase')) AS r
        |  FROM events GROUP BY user_id)
        |ORDER BY user_id""".stripMargin)),

    // Round-7 `Gates fns` tranche (functions/CompatExtra2.scala): the
    // deterministic scalar surface evaluated on literals, one row —
    // oracle pins the exact values (DuckDB lacks parse_url/yearweek
    // etc., so the mirror is a literal VALUES row, each value
    // hand-derived from the reference semantics).
    "compat_round7_fns" -> ((spark, dir) => sqlq(spark, dir)(
      """SELECT
        |  strpos('hello world', 'world') AS sp1, strpos('abc', 'z') AS sp0,
        |  array_join(regexp_split('a1b22c333d', '\\d+'), '|') AS rs,
        |  replace_old('aXbX', 'X', 'y') AS ro,
        |  milliseconds_diff(timestamp'2024-01-02 00:00:01.250',
        |                    timestamp'2024-01-02 00:00:00') AS md,
        |  to_iso8601(timestamp'2024-03-05 06:07:08.123456') AS iso_ts,
        |  to_iso8601(date'2024-03-05') AS iso_d,
        |  CAST(equiwidth_bucket(7.0, 0.0, 10.0, 5) AS BIGINT) AS wb,
        |  inet_aton('192.168.1.10') AS ia, inet_aton('1.2.3.299') AS ia_bad,
        |  CAST(yearweek(date'2024-01-06') AS INT) AS yw_prev,
        |  CAST(yearweek(date'2024-01-07') AS INT) AS yw_first,
        |  CAST(yearweek(date'2024-12-31') AS INT) AS yw_last,
        |  url_extract_host('https://docs.example.com/a/b?x=1&y=2') AS host,
        |  url_extract_parameter('https://docs.example.com/a/b?x=1&y=2', 'y') AS param,
        |  array_join(array_top_n(array(3, 1, NULL, 9, 7), 3), ',') AS topn,
        |  bar(7, 0, 10, 10) AS bar7,
        |  date_format(to_tera_timestamp('2024-03-05 06:07:08', 'yyyy-mm-dd hh24:mi:ss'),
        |    'yyyy-MM-dd HH:mm:ss') AS tera,
        |  date_format(str_to_jodatime('2024-03-05 06:07', 'yyyy-MM-dd HH:mm'),
        |    'yyyy-MM-dd HH:mm') AS joda,
        |  jodatime_format(timestamp'2024-03-05 06:07:08', 'yyyy-MM-dd HH:mm:ss') AS jodaf,
        |  CAST(to_datetime_ntz(timestamp'2024-03-05 06:07:08') AS STRING) AS ntz""".stripMargin)),
    "compat_sum_map_fn" -> ((spark, dir) => sqlq(spark, dir)(
      """SELECT user_id, e.etype AS etype, round(e.total, 4) AS total
        |FROM (
        |  SELECT user_id, sum_map(map(event_type, value)) AS m
        |  FROM events GROUP BY user_id)
        |LATERAL VIEW explode(m) e AS etype, total
        |ORDER BY user_id, etype""".stripMargin)))

  def oracles: Map[String, String] = Map(
    "compat_time_kernels" ->
      """SELECT o_orderkey,
        |  concat(CASE WHEN d < 0 THEN '-' ELSE '' END,
        |    lpad(CAST(abs(d) // 3600 AS VARCHAR), 2, '0'), ':',
        |    lpad(CAST((abs(d) % 3600) // 60 AS VARCHAR), 2, '0'), ':',
        |    lpad(CAST(abs(d) % 60 AS VARCHAR), 2, '0')) AS td,
        |  concat(lpad(CAST(s // 3600 AS VARCHAR), 2, '0'), ':',
        |    lpad(CAST((s % 3600) // 60 AS VARCHAR), 2, '0'), ':',
        |    lpad(CAST(s % 60 AS VARCHAR), 2, '0')) AS s2t,
        |  s AS t2s,
        |  strftime(CAST(o_orderdate AS DATE) - CAST(CASE WHEN (isodow(o_orderdate) - 1 + 7) % 7 = 0 THEN 7
        |    ELSE (isodow(o_orderdate) - 1 + 7) % 7 END AS INTEGER), '%Y-%m-%d') AS prev_mon,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS sft,
        |  '18-23' AS tfmt,
        |  CAST(o_orderdate + INTERVAL 5 DAY AS TIMESTAMP) AS tsa,
        |  CAST(floor((epoch(o_orderdate) - epoch(TIMESTAMP '1995-01-01')) / 3600) AS BIGINT) AS tsd,
        |  concat(CAST(o_orderkey % 1000 AS VARCHAR), ' B') AS fb_b,
        |  '2.50 KB' AS fb_kb,
        |  '3.50 MB' AS fb_mb,
        |  NULL AS fb_null,
        |  CAST(position(regexp_extract(o_orderpriority, '[A-Z]+') IN o_orderpriority) AS INT) AS rp
        |FROM (SELECT *,
        |    CAST(epoch(o_orderdate) - epoch(TIMESTAMP '1995-06-01 12:30:45') AS BIGINT) AS d,
        |    CAST(o_orderkey % 90000 AS BIGINT) AS s
        |  FROM orders) WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin,
    "compat_text_kernels" ->
      """SELECT p_partkey,
        |  array_to_string(list_filter(string_split_regex(lower(p_name), '[^a-z]+'), x -> x <> ''), ' ') AS toks,
        |  array_to_string(list_filter(string_split_regex(lower(concat(p_brand, ' ', p_size)), '[^a-z0-9]+'), x -> x <> ''), ' ') AS toks_std,
        |  46947589 AS xh_empty,
        |  1426945110 AS xh_a,
        |  852579327 AS xh_abc,
        |  true AS xh_stable,
        |  true AS acs_yes,
        |  false AS acs_no,
        |  true AS acs_empty,
        |  '616263' AS fb_hex,
        |  'YWJj' AS fb_b64,
        |  90.0 AS deg,
        |  CAST(1024 AS DOUBLE) AS fp,
        |  p_partkey AS mat,
        |  true AS u7_ok
        |FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""".stripMargin,
    "compat_json_edit" ->
      """SELECT event_id,
        |  concat('{"k":', json_extract_string(props, '$.k'), ',"x":5}') AS jset,
        |  '{}' AS jrem,
        |  json_extract_string(props, '$.k') = '69' AS jcont,
        |  concat('{', chr(10), '  "k" : ', json_extract_string(props, '$.k'), chr(10), '}') AS jpretty,
        |  false AS scalar_doc,
        |  true AS scalar_lit,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS vk,
        |  'OBJECT<k: BIGINT>' AS vt
        |FROM events WHERE event_id < 1000 ORDER BY event_id""".stripMargin,
    "compat_event_aggs" ->
      """SELECT user_id,
        |  bool_or(event_type = 'view') AS r_view,
        |  bool_or(event_type = 'view') AND bool_or(event_type = 'click') AS r_click,
        |  bool_or(event_type = 'view') AND bool_or(event_type = 'purchase') AS r_purchase
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "compat_sum_map_fn" ->
      """SELECT user_id, event_type AS etype,
        |  round(sum(value), 4) AS total
        |FROM events GROUP BY user_id, event_type ORDER BY user_id, etype""".stripMargin,
    // literal mirror of the round-7 function tranche — every value
    // hand-derived from the reference semantics (see gate comment)
    "compat_round7_fns" ->
      """SELECT CAST(sp1 AS INTEGER) AS sp1, CAST(sp0 AS INTEGER) AS sp0,
        |  rs, ro, CAST(md AS BIGINT) AS md, iso_ts, iso_d,
        |  CAST(wb AS BIGINT) AS wb, CAST(ia AS BIGINT) AS ia,
        |  CAST(ia_bad AS BIGINT) AS ia_bad,
        |  CAST(yw_prev AS INTEGER) AS yw_prev,
        |  CAST(yw_first AS INTEGER) AS yw_first,
        |  CAST(yw_last AS INTEGER) AS yw_last,
        |  host, param, topn, bar7, tera, joda, jodaf, ntz
        |FROM (VALUES (7, 0, 'a|b|c|d', 'ayby', 1250,
        |  '2024-03-05T06:07:08.123456', '2024-03-05', 4, 3232235786, NULL,
        |  202353, 202401, 202452, 'docs.example.com', '2', '9,7,3',
        |  '███████', '2024-03-05 06:07:08', '2024-03-05 06:07',
        |  '2024-03-05 06:07:08', '2024-03-05 06:07:08'))
        | t(sp1, sp0, rs, ro, md, iso_ts, iso_d, wb, ia, ia_bad,
        |   yw_prev, yw_first, yw_last, host, param, topn, bar7,
        |   tera, joda, jodaf, ntz)""".stripMargin)
}
