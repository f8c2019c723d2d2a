package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import Q._

/** Scalar function surface parity — the reference declares 207 built-ins in
  * flink-table-common/.../functions/BuiltInFunctionDefinitions.java
  * (string :851-1298, math :1323-2199, temporal :1831-2014, array/map
  * :2031-2113 + :147-476, JSON :2324-2455, conditional :490-698; SURVEY.md
  * §2.9). Each query below exercises one family end-to-end through
  * whole-stage codegen; the oracle runs the same computation in DuckDB.
  *
  * Cross-engine determinism: transcendental results (exp/ln/sin/...) are
  * rounded to 6 decimals before compare — libm implementations may differ
  * in the last ulp; everything else is exact integer/decimal/string work.
  */
object FunctionQueries {

  val queries: Map[String, QFn] = Map(
    // String family (charLength:851 … strToMap:1298).
    "q_fn_string" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "nation")
        .select(
          $"n_nationkey",
          length($"n_name").cast(LongType).as("name_len"),
          lower($"n_name").as("lo"),
          initcap(lower($"n_name")).as("cap"),
          substring($"n_name", 2, 3).as("sub"),
          concat_ws("-", $"n_name", $"n_name".substr(1, 2)).as("joined"),
          lpad($"n_name", 12, ".").as("pad_l"),
          rpad($"n_name", 12, ".").as("pad_r"),
          reverse($"n_name").as("rev"),
          repeat($"n_name", 2).as("rep"),
          translate($"n_name", "AEI", "aei").as("tr"),
          locate("AN", $"n_name").cast(LongType).as("pos_an"),
          replace($"n_name", lit("A"), lit("@")).as("repl"),
          left($"n_name", lit(3)).as("l3"),
          right($"n_name", lit(3)).as("r3"),
          ascii($"n_name").cast(LongType).as("first_code"),
          trim(lpad($"n_name", 10, " ")).as("trimmed"))
        .orderBy($"n_nationkey")
    }),

    // split + 1-based part extraction (splitIndex:1286, SPLIT:424).
    "q_fn_split" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "part")
        .select(
          $"p_partkey",
          split_part($"p_type", lit(" "), lit(1)).as("type_a"),
          split_part($"p_type", lit(" "), lit(2)).as("type_b"),
          size(split($"p_type", " ")).cast(LongType).as("n_words"),
          element_at(split($"p_type", " "), -1).as("type_last"))
        .orderBy($"p_partkey")
    }),

    // Regex family (regexpExtract:1073, regexpReplace:1266, regexp/similar).
    "q_fn_regex" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "part")
        .select(
          $"p_partkey",
          $"p_name".rlike("^[a-f]").as("starts_af"),
          regexp_extract($"p_name", "([a-z]+)$", 1).as("last_word"),
          regexp_replace($"p_name", "[aeiou]", "_").as("devoweled"),
          regexp_count($"p_name", lit("a")).cast(LongType).as("n_a"))
        .orderBy($"p_partkey")
    }),

    // Math family: exact integer/decimal ops (abs/mod/sign/floor/ceil/
    // round/truncate, bin/hex) — plus pmod semantics.
    "q_fn_math_exact" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .select(
          $"o_orderkey",
          abs($"o_orderkey" - 1000L).as("abs_v"),
          ($"o_orderkey" % 7L).as("mod7"),
          pmod($"o_orderkey" - 1000L, lit(7L)).as("pmod7"),
          signum(($"o_orderkey" - 1000L).cast(DoubleType)).cast(LongType).as("sgn"),
          floor(dec2($"o_totalprice")).cast(LongType).as("price_floor"),
          ceil(dec2($"o_totalprice")).cast(LongType).as("price_ceil"),
          round(dec2($"o_totalprice"), 1).cast(DoubleType).as("price_round1"),
          hex($"o_orderkey").as("key_hex"),
          bin($"o_orderkey").as("key_bin"),
          conv(hex($"o_orderkey"), 16, 10).cast(LongType).as("key_roundtrip"))
        .orderBy($"o_orderkey")
    }),

    // Math family: transcendental (exp:1492…atan2:1688), rounded to 6dp.
    "q_fn_math_float" -> ((s, dir) => {
      import s.implicits._
      val x = dec2($"o_totalprice").cast(DoubleType) / lit(100000.0)
      t(s, dir, "orders")
        .select(
          $"o_orderkey",
          round(exp(x), 6).as("exp_v"),
          round(log(x + 1.0), 6).as("ln_v"),
          round(log10(x + 1.0), 6).as("log10_v"),
          round(sqrt(x), 6).as("sqrt_v"),
          round(sin(x), 6).as("sin_v"),
          round(cos(x), 6).as("cos_v"),
          round(atan2(x, lit(1.0)), 6).as("atan2_v"),
          round(pow(x, 2.5), 6).as("pow_v"))
        .orderBy($"o_orderkey")
    }),

    // Hash family (md5:2151, sha1/sha2:2159-2199).
    "q_fn_hash" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "region")
        .select(
          $"r_regionkey",
          md5($"r_name").as("md5_v"),
          sha2($"r_name", 256).as("sha256_v"),
          conv(substring(md5($"r_name"), 1, 15), 16, 10).cast(LongType).as("md5_as_long"))
        .orderBy($"r_regionkey")
    }),

    // Bitwise scalar + aggregate family (BuiltInFunctionDefinitions
    // BIT_AND/BIT_OR/BIT_XOR aggregate forms and the & | ^ scalars).
    "q_fn_bitagg" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .select($"l_returnflag", $"l_orderkey", $"l_linenumber")
        .groupBy($"l_returnflag")
        .agg(
          bit_and($"l_orderkey").as("band"),
          bit_or($"l_orderkey").as("bor"),
          bit_xor($"l_orderkey").as("bxor"),
          bit_and($"l_orderkey".bitwiseAND($"l_linenumber")).as("band_mixed"),
          sum(($"l_orderkey".bitwiseXOR($"l_linenumber")) % 97).as("sum_xor_mod"))
        .orderBy($"l_returnflag")
    }),

    // Temporal family (extract:1831, dateFormat:1916, timestampDiff:1931,
    // toDate:1990, plus last_day/trunc/add).
    "q_fn_temporal" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .select(
          $"o_orderkey",
          year($"o_orderdate").cast(LongType).as("y"),
          month($"o_orderdate").cast(LongType).as("m"),
          dayofmonth($"o_orderdate").cast(LongType).as("d"),
          quarter($"o_orderdate").cast(LongType).as("q"),
          (dayofweek($"o_orderdate")).cast(LongType).as("dow_sun1"),
          // date results as formatted strings: pandas renders Spark's
          // parquet DATE and DuckDB's DATE differently, which would fail
          // the driver's value compare even when semantically equal.
          date_format(date_add($"o_orderdate".cast(DateType), 30), "yyyy-MM-dd").as("plus30"),
          date_format(add_months($"o_orderdate".cast(DateType), 2), "yyyy-MM-dd").as("plus2mo"),
          date_format(last_day($"o_orderdate"), "yyyy-MM-dd").as("month_end"),
          date_format(trunc($"o_orderdate".cast(DateType), "month"), "yyyy-MM-dd").as("month_start"),
          date_format($"o_orderdate", "yyyy-MM").as("ym"),
          datediff(lit("2025-01-01").cast(DateType), $"o_orderdate")
            .cast(LongType).as("days_to_2025"))
        .orderBy($"o_orderkey")
    }),

    // Event-timestamp functions over the events table (unixTimestamp:1976,
    // fromUnixtime:1963, date_trunc, extract on timestamps).
    "q_fn_ts" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .select(
          $"event_id",
          unix_timestamp($"ts".cast(TimestampType)).as("epoch_s"),
          hour($"ts").cast(LongType).as("h"),
          minute($"ts").cast(LongType).as("mi"),
          second($"ts").cast(LongType).as("sec"),
          dayofyear($"ts").cast(LongType).as("doy"),
          date_trunc("hour", $"ts").cast(TimestampNTZType).as("ts_hour"),
          date_format($"ts", "yyyy-MM-dd").as("day"))
        .orderBy($"event_id")
    }),

    // JSON family (JSON_VALUE:2361 / get_json_object parity) on
    // events.props.
    "q_fn_json" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .select(
          $"event_id",
          get_json_object($"props", "$.k").cast(LongType).as("k_val"),
          ($"props".isNotNull && get_json_object($"props", "$.k").isNotNull)
            .as("has_k"),
          get_json_object($"props", "$.missing").as("missing_val"))
        .orderBy($"event_id")
    }),

    // SQL/JSON path functions (JSON_EXISTS:2339, JSON_VALUE:2361,
    // JSON_QUERY:2379 in BuiltInFunctionDefinitions.java) — native Catalyst
    // expressions (graft.functions.JsonPath) with Flink's defaults: NULL ON
    // EMPTY / NULL ON ERROR for JSON_VALUE (non-scalar → error), FALSE ON
    // ERROR for JSON_EXISTS, WITHOUT ARRAY WRAPPER for JSON_QUERY. The
    // nested document is synthesized identically on both engines.
    "q_fn_jsonpath" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.JsonFunctions._
      val j = concat(
        lit("{\"name\":\""), $"n_name",
        lit("\",\"info\":{\"region\":"), $"n_regionkey",
        lit(",\"ids\":["), $"n_nationkey", lit(","), $"n_nationkey" + 100,
        lit("]}}"))
      t(s, dir, "nation")
        .select(
          $"n_nationkey",
          jsonValue(j, lit("$.name")).as("name_v"),
          jsonValue(j, lit("$.info.region")).cast(LongType).as("region_v"),
          jsonValue(j, lit("$.info.ids[1]")).cast(LongType).as("id1_v"),
          jsonValue(j, lit("$.missing")).as("missing_v"),
          jsonValue(j, lit("$.missing"), lit("dflt"), lit("err")).as("dflt_v"),
          jsonValue(j, lit("$.info")).isNull.as("nonscalar_is_null"),
          jsonExists(j, lit("$.info.region")).as("ex_hit"),
          jsonExists(j, lit("$.nope")).as("ex_miss"),
          jsonExists(j, lit("strict $.nope")).as("ex_strict"),
          jsonQuery(j, lit("$.info")).as("q_obj"),
          jsonQuery(j, lit("$.info.ids")).as("q_arr"),
          jsonQuery(j, lit("$.name")).as("q_scalar"),
          jsonQuery(j, lit("$.name"), "with").as("q_wrapped"))
        .orderBy($"n_nationkey")
    }),

    // JSON constructors (JSON_OBJECT:2324, JSON_ARRAY:2442, IS_JSON:2455
    // in BuiltInFunctionDefinitions.java) — codegen'd concat trees over
    // the JsonScalar serializer (graft.functions.JsonConstructors) with
    // the reference's NULL ON NULL / ABSENT ON NULL defaults.
    "q_fn_jsonctor" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.JsonConstructors._
      val maybe = when($"n_regionkey" > 2, $"n_name")
      t(s, dir, "nation")
        .select(
          $"n_nationkey",
          jsonObject(Seq(lit("name") -> $"n_name", lit("region") -> $"n_regionkey"))
            .as("obj"),
          jsonObject(Seq(lit("maybe") -> maybe)).as("obj_nullonnull"),
          jsonObject(Seq(lit("maybe") -> maybe), nullOnNull = false).as("obj_absent"),
          jsonArray(Seq($"n_name", $"n_nationkey")).as("arr"),
          isJson($"n_name").as("raw_is_json"),
          isJson(jsonObject(Seq(lit("k") -> $"n_nationkey")), "object").as("obj_is_obj"),
          isJson(concat(lit("["), $"n_nationkey", lit("]")), "array").as("arr_is_arr"),
          isJson($"n_nationkey".cast(StringType), "scalar").as("num_is_scalar"))
        .orderBy($"n_nationkey")
    }),

    // JSON aggregates (JSON_OBJECTAGG:2406, JSON_ARRAYAGG:2442) — the
    // deterministic (sorted) forms; partial aggregation is collect_list's.
    "q_fn_jsonagg" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.JsonConstructors._
      t(s, dir, "nation")
        .groupBy($"n_regionkey")
        .agg(
          jsonArrayAgg($"n_name").as("names_json"),
          jsonObjectAgg($"n_name", $"n_nationkey").as("keys_json"))
        .orderBy($"n_regionkey")
    }),

    // Conditional family (COALESCE:221, IFNULL:135, GREATEST:688,
    // LEAST:698, nullif, ifThenElse:525, TRY_CAST:2501).
    "q_fn_conditional" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "customer")
        .select(
          $"c_custkey",
          coalesce(nullif($"c_mktsegment", lit("BUILDING")), lit("(bldg)")).as("seg"),
          greatest(dec2($"c_acctbal"), lit(0).cast(DecimalType(12, 2)))
            .cast(DoubleType).as("bal_pos"),
          least($"c_custkey", $"c_nationkey").as("min_key"),
          when($"c_acctbal" < 0, "neg").otherwise("pos").as("bal_sign"),
          $"c_name".try_cast(LongType).isNull.as("name_not_numeric"))
        .orderBy($"c_custkey")
    }),

    // Array construction + ops (array:2062, ARRAY_CONTAINS:245,
    // ARRAY_SORT:261, ARRAY_DISTINCT:280, ARRAY_POSITION:293,
    // ARRAY_SLICE:348, ARRAY_JOIN:396, ARRAY_MAX:386/MIN:414, cardinality).
    "q_fn_array" -> ((s, dir) => {
      import s.implicits._
      val words = split($"text", " ")
      t(s, dir, "documents")
        .select(
          $"doc_id",
          size(words).cast(LongType).as("n_words"),
          size(array_distinct(words)).cast(LongType).as("n_distinct"),
          array_contains(words, "spark").as("has_spark"),
          array_position(words, "the").cast(LongType).as("first_the"),
          element_at(words, 1).as("w1"),
          element_at(words, -1).as("w_last"),
          array_join(slice(words, 1, 3), "_").as("first3"),
          array_max(transform(words, w => length(w))).cast(LongType).as("max_wlen"),
          array_min(transform(words, w => length(w))).cast(LongType).as("min_wlen"))
        .orderBy($"doc_id")
    }),

    // Higher-order functions (transform/filter/aggregate/exists — the
    // reference routes these through generated Calc code; Spark codegens
    // the lambda bodies).
    "q_fn_higher_order" -> ((s, dir) => {
      import s.implicits._
      val words = split($"text", " ")
      t(s, dir, "documents")
        .select(
          $"doc_id",
          size(filter(words, w => length(w) > 4)).cast(LongType).as("n_long_words"),
          aggregate(transform(words, w => length(w).cast(LongType)), lit(0L),
            (acc, x) => acc + x).as("total_chars"),
          exists(words, w => w === "data").as("mentions_data"),
          forall(words, w => length(w) < 20).as("all_short"))
        .orderBy($"doc_id")
    }),

    // Second string family: base64, chr, overlay, str_to_map, uuid-free
    // deterministic subset (fromBase64:1090, toBase64:1098, chr:1114,
    // overlay:1004, strToMap:1298).
    "q_fn_string2" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "region")
        .select(
          $"r_regionkey",
          base64(encode($"r_name", "utf-8")).as("b64"),
          decode(unbase64(base64(encode($"r_name", "utf-8"))), "utf-8").as("roundtrip"),
          chr($"r_regionkey" + 65).as("letter"),
          overlay($"r_name", lit("##"), lit(2)).as("overlaid"),
          str_to_map(concat(lit("k1:"), $"r_regionkey", lit(",k2:"), $"r_name"),
            lit(","), lit(":")).getField("k2").as("mapped"))
        .orderBy($"r_regionkey")
    }),

    // The §2.9 stragglers: the position family in all three spellings
    // (position:987, locate:1177, instr:1166 — all 1-based, 0 = absent),
    // ELT-style 1-based member pick, fromUnixtime:1963 (string form),
    // and convertTz:1951 (NTZ wall-clock rebase between zones; the epoch
    // base lands in EST so no DST edge enters the oracle).
    "q_fn_misc" -> ((s, dir) => {
      import s.implicits._
      val epoch = $"n_nationkey" * 86400L + lit(1700000000L) + lit(3661L)
      t(s, dir, "nation")
        .select(
          $"n_nationkey",
          locate("A", $"n_name").cast(LongType).as("loc_a"),
          instr($"n_name", "AN").cast(LongType).as("instr_an"),
          expr("position('I' IN n_name)").cast(LongType).as("pos_i"),
          elt(($"n_nationkey" % 3 + 1).cast(IntegerType), $"n_name",
            lit("mid"), lit("last")).as("elt_pick"),
          from_unixtime(epoch).as("fut"),
          convert_timezone(lit("UTC"), lit("America/New_York"),
            timestamp_seconds(epoch).cast(TimestampNTZType)).as("ny_wall"))
        .orderBy($"n_nationkey")
    }),

    // parse_url (parseUrl:1193) over synthesized URLs.
    "q_fn_url" -> ((s, dir) => {
      import s.implicits._
      val url = concat(lit("https://shop.example.com/cat/"),
        lower(regexp_replace($"p_type", " ", "-")),
        lit("?id="), $"p_partkey")
      t(s, dir, "part")
        .select(
          $"p_partkey",
          parse_url(url, lit("HOST")).as("host"),
          parse_url(url, lit("PATH")).as("path"),
          parse_url(url, lit("QUERY"), lit("id")).cast(LongType).as("qid"))
        .orderBy($"p_partkey")
    }),

    // Map constructors + ops (map:2079, MAP_KEYS:147, MAP_VALUES:159,
    // MAP_UNION:172, MAP_FROM_ARRAYS:195, at/element_at:2031). Keys and
    // values are emitted as sorted arrays/scalars — map column ordering is
    // not comparable across engines.
    "q_fn_map" -> ((s, dir) => {
      import s.implicits._
      val m = map_from_arrays(
        array(lit("key"), lit("region")),
        array($"r_regionkey".cast(StringType), $"r_name"))
      val merged = map_concat(m, map_from_arrays(array(lit("extra")), array(lit("1"))))
      t(s, dir, "region")
        .select(
          $"r_regionkey",
          array_join(array_sort(map_keys(merged)), ",").as("ks"),
          element_at(m, "region").as("region_v"),
          element_at(m, "missing").as("missing_v"),
          size(map_values(merged)).cast(LongType).as("n_entries"))
        .orderBy($"r_regionkey")
    }),

    // MULTISET semantics (§1.2: MULTISET ≈ element→count map, as the
    // reference's runtime represents it): per-region multiset of customer
    // nation keys, emitted as sorted "elem:count" entries.
    "q_fn_multiset" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "customer")
        .groupBy($"c_nationkey", $"c_mktsegment")
        .agg(count(lit(1)).as("cnt"))
        .groupBy($"c_nationkey")
        .agg(array_join(array_sort(collect_list(
          concat($"c_mktsegment", lit(":"), $"cnt"))), ",").as("multiset"))
        .orderBy($"c_nationkey")
    }),

    // Sequence/range generation (sequence ~ generate_series) + aggregate
    // over it.
    "q_fn_sequence" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "nation")
        .select(
          $"n_nationkey",
          size(sequence(lit(1L), $"n_nationkey" + 1L)).cast(LongType).as("seq_len"),
          aggregate(sequence(lit(1L), $"n_nationkey" + 1L), lit(0L),
            (acc, x) => acc + x).as("seq_sum"))
        .orderBy($"n_nationkey")
    })
  )

  val oracles: Map[String, String] = Map(
    "q_fn_string" ->
      """SELECT n_nationkey,
        |  CAST(length(n_name) AS BIGINT) AS name_len,
        |  lower(n_name) AS lo,
        |  array_to_string(list_transform(string_split(lower(n_name), ' '),
        |    w -> upper(w[1]) || w[2:]), ' ') AS cap,
        |  substr(n_name, 2, 3) AS sub,
        |  concat_ws('-', n_name, substr(n_name,1,2)) AS joined,
        |  lpad(n_name, 12, '.') AS pad_l,
        |  rpad(n_name, 12, '.') AS pad_r,
        |  reverse(n_name) AS rev,
        |  repeat(n_name, 2) AS rep,
        |  translate(n_name, 'AEI', 'aei') AS tr,
        |  CAST(strpos(n_name, 'AN') AS BIGINT) AS pos_an,
        |  replace(n_name, 'A', '@') AS repl,
        |  left(n_name, 3) AS l3,
        |  right(n_name, 3) AS r3,
        |  CAST(ascii(substr(n_name,1,1)) AS BIGINT) AS first_code,
        |  trim(lpad(n_name, 10, ' ')) AS trimmed
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q_fn_split" ->
      """SELECT p_partkey,
        |  split_part(p_type, ' ', 1) AS type_a,
        |  split_part(p_type, ' ', 2) AS type_b,
        |  CAST(len(string_split(p_type, ' ')) AS BIGINT) AS n_words,
        |  string_split(p_type, ' ')[-1] AS type_last
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_fn_regex" ->
      """SELECT p_partkey,
        |  regexp_matches(p_name, '^[a-f]') AS starts_af,
        |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        |  CAST(len(p_name) - len(replace(p_name, 'a', '')) AS BIGINT) AS n_a
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_fn_math_exact" ->
      """SELECT o_orderkey,
        |  abs(o_orderkey - 1000) AS abs_v,
        |  (o_orderkey % 7) AS mod7,
        |  ((o_orderkey - 1000) % 7 + 7) % 7 AS pmod7,
        |  CAST(sign(o_orderkey - 1000) AS BIGINT) AS sgn,
        |  CAST(floor(CAST(o_totalprice AS DECIMAL(12,2))) AS BIGINT) AS price_floor,
        |  CAST(ceil(CAST(o_totalprice AS DECIMAL(12,2))) AS BIGINT) AS price_ceil,
        |  CAST(round(CAST(o_totalprice AS DECIMAL(12,2)), 1) AS DOUBLE) AS price_round1,
        |  upper(to_hex(o_orderkey)) AS key_hex,
        |  bin(o_orderkey) AS key_bin,
        |  o_orderkey AS key_roundtrip
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_fn_bitagg" ->
      """SELECT l_returnflag,
        |  bit_and(l_orderkey) AS band,
        |  bit_or(l_orderkey) AS bor,
        |  bit_xor(l_orderkey) AS bxor,
        |  bit_and(l_orderkey & l_linenumber) AS band_mixed,
        |  CAST(sum(xor(l_orderkey, l_linenumber) % 97) AS BIGINT) AS sum_xor_mod
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_fn_math_float" ->
      """SELECT o_orderkey,
        |  round(exp(x), 6) AS exp_v,
        |  round(ln(x + 1.0), 6) AS ln_v,
        |  round(log10(x + 1.0), 6) AS log10_v,
        |  round(sqrt(x), 6) AS sqrt_v,
        |  round(sin(x), 6) AS sin_v,
        |  round(cos(x), 6) AS cos_v,
        |  round(atan2(x, 1.0), 6) AS atan2_v,
        |  round(pow(x, 2.5), 6) AS pow_v
        |FROM (SELECT o_orderkey,
        |        CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) / 100000.0 AS x
        |      FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q_fn_hash" ->
      """SELECT r_regionkey,
        |  md5(r_name) AS md5_v,
        |  sha256(r_name) AS sha256_v,
        |  ('0x' || substr(md5(r_name), 1, 15))::BIGINT AS md5_as_long
        |FROM region ORDER BY r_regionkey""".stripMargin,

    "q_fn_temporal" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(day(o_orderdate) AS BIGINT) AS d,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow_sun1,
        |  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30,
        |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus2mo,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |  strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_start,
        |  strftime(o_orderdate, '%Y-%m') AS ym,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2025-01-01') AS days_to_2025
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_fn_ts" ->
      s"""SELECT event_id,
        |  epoch_us(ts) // 1000000 AS epoch_s,
        |  CAST(hour(ts) AS BIGINT) AS h,
        |  CAST(minute(ts) AS BIGINT) AS mi,
        |  CAST(second(ts) AS BIGINT) AS sec,
        |  CAST(dayofyear(ts) AS BIGINT) AS doy,
        |  date_trunc('hour', ts) AS ts_hour,
        |  strftime(ts, '%Y-%m-%d') AS day
        |FROM ${Tables.duckEvents}
        |ORDER BY event_id""".stripMargin,

    "q_fn_json" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        |  (props IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL) AS has_k,
        |  json_extract_string(props, '$.missing') AS missing_val
        |FROM events ORDER BY event_id""".stripMargin,

    "q_fn_jsonpath" ->
      """WITH d AS (
        |  SELECT n_nationkey, n_name,
        |    '{"name":"' || n_name || '","info":{"region":' || n_regionkey
        |      || ',"ids":[' || n_nationkey || ',' || (n_nationkey + 100) || ']}}' AS j
        |  FROM nation)
        |SELECT n_nationkey,
        |  json_extract_string(j, '$.name') AS name_v,
        |  CAST(json_extract_string(j, '$.info.region') AS BIGINT) AS region_v,
        |  CAST(json_extract_string(j, '$.info.ids[1]') AS BIGINT) AS id1_v,
        |  json_extract_string(j, '$.missing') AS missing_v,
        |  coalesce(json_extract_string(j, '$.missing'), 'dflt') AS dflt_v,
        |  TRUE AS nonscalar_is_null,
        |  (json_extract(j, '$.info.region') IS NOT NULL) AS ex_hit,
        |  (json_extract(j, '$.nope') IS NOT NULL) AS ex_miss,
        |  FALSE AS ex_strict,
        |  CAST(json_extract(j, '$.info') AS VARCHAR) AS q_obj,
        |  CAST(json_extract(j, '$.info.ids') AS VARCHAR) AS q_arr,
        |  CAST(NULL AS VARCHAR) AS q_scalar,
        |  '["' || n_name || '"]' AS q_wrapped
        |FROM d ORDER BY n_nationkey""".stripMargin,

    "q_fn_jsonctor" ->
      """SELECT n_nationkey,
        |  '{"name":' || to_json(n_name) || ',"region":' || to_json(n_regionkey) || '}' AS obj,
        |  CASE WHEN n_regionkey > 2
        |       THEN '{"maybe":' || to_json(n_name) || '}'
        |       ELSE '{"maybe":null}' END AS obj_nullonnull,
        |  CASE WHEN n_regionkey > 2
        |       THEN '{"maybe":' || to_json(n_name) || '}'
        |       ELSE '{}' END AS obj_absent,
        |  '[' || to_json(n_name) || ',' || to_json(n_nationkey) || ']' AS arr,
        |  json_valid(n_name) AS raw_is_json,
        |  (json_valid('{"k":' || n_nationkey || '}')
        |    AND json_type(('{"k":' || n_nationkey || '}')::JSON) = 'OBJECT') AS obj_is_obj,
        |  (json_valid('[' || n_nationkey || ']')
        |    AND json_type(('[' || n_nationkey || ']')::JSON) = 'ARRAY') AS arr_is_arr,
        |  (json_valid(CAST(n_nationkey AS VARCHAR))
        |    AND json_type(CAST(n_nationkey AS VARCHAR)::JSON) NOT IN ('OBJECT', 'ARRAY'))
        |    AS num_is_scalar
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q_fn_jsonagg" ->
      """SELECT n_regionkey,
        |  '[' || coalesce(string_agg(to_json(n_name), ',' ORDER BY n_name), '') || ']'
        |    AS names_json,
        |  '{' || coalesce(string_agg(to_json(n_name) || ':' || to_json(n_nationkey),
        |           ',' ORDER BY n_name, n_nationkey), '') || '}' AS keys_json
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "q_fn_conditional" ->
      """SELECT c_custkey,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), '(bldg)') AS seg,
        |  CAST(greatest(CAST(c_acctbal AS DECIMAL(12,2)), 0) AS DOUBLE) AS bal_pos,
        |  least(c_custkey, c_nationkey) AS min_key,
        |  CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS bal_sign,
        |  (TRY_CAST(c_name AS BIGINT) IS NULL) AS name_not_numeric
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_fn_array" ->
      """SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
        |  list_contains(w, 'spark') AS has_spark,
        |  CAST(coalesce(list_position(w, 'the'), 0) AS BIGINT) AS first_the,
        |  w[1] AS w1,
        |  w[-1] AS w_last,
        |  array_to_string(w[1:3], '_') AS first3,
        |  CAST(list_aggregate(list_transform(w, x -> length(x)), 'max') AS BIGINT) AS max_wlen,
        |  CAST(list_aggregate(list_transform(w, x -> length(x)), 'min') AS BIGINT) AS min_wlen
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_fn_higher_order" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(w, x -> length(x) > 4)) AS BIGINT) AS n_long_words,
        |  CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS total_chars,
        |  list_contains(w, 'data') AS mentions_data,
        |  CAST(len(list_filter(w, x -> length(x) >= 20)) = 0 AS BOOLEAN) AS all_short
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_fn_string2" ->
      """SELECT r_regionkey,
        |  to_base64(encode(r_name)) AS b64,
        |  decode(from_base64(to_base64(encode(r_name)))) AS roundtrip,
        |  chr(CAST(r_regionkey + 65 AS INTEGER)) AS letter,
        |  substr(r_name, 1, 1) || '##' || substr(r_name, 4) AS overlaid,
        |  '' || r_name AS mapped
        |FROM region ORDER BY r_regionkey""".stripMargin,

    "q_fn_misc" ->
      """SELECT n_nationkey,
        |  strpos(n_name, 'A') AS loc_a,
        |  strpos(n_name, 'AN') AS instr_an,
        |  strpos(n_name, 'I') AS pos_i,
        |  CASE CAST(n_nationkey % 3 + 1 AS INTEGER)
        |    WHEN 1 THEN n_name WHEN 2 THEN 'mid' ELSE 'last' END AS elt_pick,
        |  strftime(CAST(to_timestamp(1700000000 + n_nationkey * 86400 + 3661) AT TIME ZONE 'UTC' AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS fut,
        |  CAST(to_timestamp(1700000000 + n_nationkey * 86400 + 3661) AT TIME ZONE 'America/New_York' AS TIMESTAMP) AS ny_wall
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q_fn_url" ->
      """SELECT p_partkey,
        |  'shop.example.com' AS host,
        |  '/cat/' || lower(replace(p_type, ' ', '-')) AS path,
        |  p_partkey AS qid
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_fn_map" ->
      """SELECT r_regionkey,
        |  'extra,key,region' AS ks,
        |  r_name AS region_v,
        |  CAST(NULL AS VARCHAR) AS missing_v,
        |  CAST(3 AS BIGINT) AS n_entries
        |FROM region ORDER BY r_regionkey""".stripMargin,

    "q_fn_multiset" ->
      """SELECT c_nationkey,
        |  string_agg(entry, ',' ORDER BY entry) AS multiset
        |FROM (
        |  SELECT c_nationkey, c_mktsegment || ':' || COUNT(*) AS entry
        |  FROM customer GROUP BY c_nationkey, c_mktsegment)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_fn_sequence" ->
      """SELECT n_nationkey,
        |  CAST(n_nationkey + 1 AS BIGINT) AS seq_len,
        |  CAST((n_nationkey + 1) * (n_nationkey + 2) / 2 AS BIGINT) AS seq_sum
        |FROM nation ORDER BY n_nationkey""".stripMargin
  )
}
