package graft

import graft.functions.{Ops, StringFns, TimeFns}
import org.apache.spark.sql.functions._

/** Scalar function surface (SURVEY §2.7): binary/unary ops, both round modes,
  * strptime translation, timestamp component extraction, string matches.
  */
class FunctionsSpec extends SparkSuite {
  import spark.implicits._

  test("binary op null semantics: validity = AND of operands") {
    val d = Seq((Some(1.0), Some(2.0)), (Some(1.0), None), (None, None))
      .toDF("a", "b")
    val out = d.select(Ops.binary($"a", $"b", "add").as("s"))
    assert(rows(out).map(_(0)) == Seq(3.0, null, null))
  }

  test("kleene boolean logic (3-valued)") {
    val d = Seq((Some(true), Option.empty[Boolean]), (Some(false), None))
      .toDF("a", "b")
    val out = d.select(
      Ops.binary($"a", $"b", "and_kleene").as("and"),
      Ops.binary($"a", $"b", "or_kleene").as("or"))
    // true AND null = null; false AND null = false; true OR null = true
    assert(rows(out) == Seq(Seq(null, true), Seq(false, null)))
  }

  test("round modes: half_up vs half_to_even (unaryop.hpp:69)") {
    val d = Seq(0.5, 1.5, 2.5, -0.5).toDF("x")
    val out = d.select(
      Ops.roundHalfUp($"x", 0).as("up"),
      Ops.roundHalfToEven($"x", 0).as("even"))
    assert(rows(out) == Seq(
      Seq(1.0, 0.0), Seq(2.0, 2.0), Seq(3.0, 2.0), Seq(-1.0, -0.0)))
  }

  test("strptime → java format translation") {
    assert(TimeFns.strptimeToJava("%Y-%m-%d %H:%M:%S") == "yyyy-MM-dd HH:mm:ss")
    assert(TimeFns.strptimeToJava("%Y-%m-%dT%H:%M:%S") == "yyyy-MM-dd'T'HH:mm:ss")
    assert(TimeFns.strptimeToJava("%d/%b/%Y") == "dd/MMM/yyyy")
    intercept[IllegalArgumentException](TimeFns.strptimeToJava("%Q"))
  }

  test("to_timestamps parses strptime-formatted strings") {
    val d = Seq("2024-03-01 12:34:56").toDF("s")
    val out = d.select(TimeFns.toTimestamps($"s", "%Y-%m-%d %H:%M:%S").as("ts"))
    assert(out.collect()(0).getTimestamp(0).toString == "2024-03-01 12:34:56.0")
  }

  test("timestamp component extraction incl. Arrow day_of_week (Mon=0)") {
    val d = Seq("2024-03-04 01:02:03").toDF("s") // a Monday
      .select(to_timestamp($"s").as("ts"))
    val out = d.select(
      TimeFns.extractComponent($"ts", "year").as("y"),
      TimeFns.extractComponent($"ts", "month").as("m"),
      TimeFns.extractComponent($"ts", "day").as("d"),
      TimeFns.extractComponent($"ts", "day_of_week").as("dow"),
      TimeFns.extractComponent($"ts", "hour").as("h"),
      TimeFns.extractComponent($"ts", "minute").as("mi"),
      TimeFns.extractComponent($"ts", "second").as("sec"))
    assert(rows(out) == Seq(Seq(2024, 3, 4, 0, 1, 2, 3)))
    // Sunday → 6
    val sun = Seq("2024-03-03").toDF("s").select(to_timestamp($"s").as("ts"))
    assert(rows(sun.select(TimeFns.extractComponent($"ts", "day_of_week")))
      .head.head == 6)
  }

  test("ns-component extraction from raw epoch-nanos longs keeps full precision") {
    // 2024-03-04 01:02:03.123456789 UTC as epoch nanos — beyond double's
    // 2^53 exact-integer range, so this also guards the integer-div path
    val nanos = 1709514123L * 1000000000L + 123456789L
    val d = Seq(nanos).toDF("raw")
    val out = d.select(
      TimeFns.extractComponentNs($"raw", "year").as("y"),
      TimeFns.extractComponentNs($"raw", "second").as("sec"),
      TimeFns.extractComponentNs($"raw", "millisecond").as("ms"),
      TimeFns.extractComponentNs($"raw", "microsecond").as("us"),
      TimeFns.extractComponentNs($"raw", "nanosecond").as("ns"))
    assert(rows(out) == Seq(Seq(2024, 3, 123, 456, 789)))
  }

  test("string match functions (strings.hpp:49-51)") {
    val d = Seq("hello world", "say hell no", "HELLO").toDF("s")
    val out = d.select(
      StringFns.matches("starts_with", $"s", "hell").as("sw"),
      StringFns.matches("ends_with", $"s", "world").as("ew"),
      StringFns.matches("match_substring", $"s", "hell").as("ms"),
      StringFns.matches("match_substring_regex", $"s", "^h.*d$").as("re"))
    assert(rows(out) == Seq(
      Seq(true, true, true, true),
      Seq(false, false, true, false),
      Seq(false, false, false, false)))
  }

  test("cast surface") {
    val d = Seq((1.9, "42")).toDF("d", "s")
    val out = d.select(
      Ops.cast($"d", org.apache.spark.sql.types.IntegerType).as("i"),
      Ops.cast($"s", org.apache.spark.sql.types.LongType).as("l"))
    assert(rows(out) == Seq(Seq(1, 42L))) // truncation toward zero, ANSI off
  }

  test("invalid operator arguments fail fast with clear errors") {
    import graft.operators.{Aggregates, Joins, Sorts}
    val d = Seq((1, 2)).toDF("a", "b")
    intercept[IllegalArgumentException](Joins.join(d, d, Seq("a"), "outer_left"))
    intercept[IllegalArgumentException](
      Aggregates.groupby(d, Seq("a"), Seq(Aggregates.AggRequest("b", "frobnicate", "x"))))
    intercept[IllegalArgumentException](Aggregates.groupby(d, Nil,
      Seq(Aggregates.AggRequest("b", "sum", "x"))))
    intercept[IllegalArgumentException](Sorts.sort(d, Seq("a"), Seq(true, false)))
    intercept[IllegalArgumentException](Ops.unary($"a", "no_such_op"))
    intercept[IllegalArgumentException](Ops.binary($"a", $"b", "no_such_op"))
    intercept[IllegalArgumentException](StringFns.matches("glob", $"a", "x"))
    intercept[IllegalArgumentException](TimeFns.extractComponent($"a", "fortnight"))
  }

  test("shift ops accept aliased/cast literal amounts and the Int overloads") {
    val d = Seq((8L, 1L)).toDF("a", "b")
    def one(c: org.apache.spark.sql.Column): Long =
      rows(d.select(c)).head.head.asInstanceOf[Long]
    assert(one(Ops.binary($"a", lit(2), "shift_left")) == 32L)
    assert(one(Ops.binary($"a", lit(2).as("n"), "shift_left")) == 32L)
    assert(one(Ops.binary($"a", lit(2L).cast("int"), "shift_right")) == 2L)
    assert(one(Ops.shiftLeft($"a", 3)) == 64L)
    assert(one(Ops.shiftRight($"a", 3)) == 1L)
    // a genuine column amount is still rejected with a clear error
    val e = intercept[IllegalArgumentException](Ops.binary($"a", $"b", "shift_left"))
    assert(e.getMessage.contains("literal int"))
  }

  test("unsigned widening: parquet uint8/16/32/64 boundary values (utils.cpp:30-94)") {
    import org.apache.spark.sql.types._
    import graft.sources.Types
    // fixture written with arrow uint types; each column carries 0, the
    // signed-type boundary, boundary+1, and the unsigned max
    val path = getClass.getResource("/unsigned.parquet").getPath
    val df = spark.read.parquet(path).orderBy("i")
    // 1. the reader widens exactly as Types.widenUnsigned declares
    val expected = Types.widenSchema(Seq(
      "u8" -> "uint8", "u16" -> "uint16", "u32" -> "uint32",
      "u64" -> "uint64", "i" -> "int32"))
    assert(df.schema == expected,
      s"widened schema mismatch:\n${df.schema}\nvs\n$expected")
    // 2. magnitudes survive — no negative reinterpretation at any boundary
    val last = df.filter($"i" === 4).head()
    assert(last.getShort(0) == 255)
    assert(last.getInt(1) == 65535)
    assert(last.getLong(2) == 4294967295L)
    assert(last.getDecimal(3) == new java.math.BigDecimal("18446744073709551615"))
    val third = df.filter($"i" === 3).head()
    assert(third.getShort(0) == 128 && third.getInt(1) == 256)
    assert(third.getLong(2) == 2147483648L) // > Int.MaxValue, positive
    assert(third.getDecimal(3) == new java.math.BigDecimal("9223372036854775808")) // > Long.MaxValue
    // 3. uint64 aggregation happens in decimal — sums past 2^63 stay exact
    val sum64 = df.agg(sum($"u64")).head().getDecimal(0)
    assert(sum64 == new java.math.BigDecimal("27670116114859294718"))
    // 4. the mapping itself: every reference type resolves, unknowns throw
    assert(Types.widenUnsigned("uint8") == ShortType)
    assert(Types.widenUnsigned("uint16") == IntegerType)
    assert(Types.widenUnsigned("uint32") == LongType)
    assert(Types.widenUnsigned("uint64") == DecimalType(20, 0))
    intercept[IllegalArgumentException](Types.widenUnsigned("decimal128"))
  }

  test("variant parse + typed get matches string-path JSON extraction") {
    import spark.implicits._
    val df = Seq(
      (1L, """{"k": 87, "s": "x"}"""),
      (2L, """{"k": -3}"""),
      (3L, """{"other": 1}"""), // missing path → null
      (4L, """{"k": null}""")).toDF("id", "props")
    val got = df.select($"id",
      variant_get(parse_json($"props"), "$.k", "int").as("k"),
      get_json_object($"props", "$.k").cast("int").as("k2"))
    got.collect().foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2))
      if (!r.isNullAt(1)) assert(r.getInt(1) == r.getInt(2))
    }
  }

  test("trailing EWMA fold: hand-computed values, frame shorter than window, per-key isolation") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = Seq(
      (1L, 1L, 10.0), (2L, 1L, 20.0), (3L, 1L, 40.0),
      (4L, 2L, 100.0)).toDF("event_id", "user_id", "value")
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(-9, Window.currentRow)
    val arr = collect_list($"value").over(w)
    val ewma = aggregate(slice(arr, lit(2), size(arr) - 1),
      element_at(arr, 1), (acc, x) => lit(0.5) * x + lit(0.5) * acc)
    val got = df.select($"event_id", ewma.as("e")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 10.0)              // single-element frame = the value
    assert(got(2L) == 15.0)              // 0.5*20 + 0.5*10
    assert(got(3L) == 27.5)              // 0.5*40 + 0.5*15
    assert(got(4L) == 100.0)             // other key unaffected
  }

  test("jaro_winkler matches DuckDB fixtures (threshold, prefix cap, empties)") {
    import graft.functions.Registry
    // expected values pinned from DuckDB jaro_winkler_similarity this round
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),   // classic transposition
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),  // 2-char prefix boost
      ("appel", "apple", 0.9533333333333333),
      ("aaaaaabc", "aaaaaabd", 0.95),             // 7-char prefix capped at 4
      ("CRATE", "TRACE", 0.7333333333333334),     // above 0.7 but 0 prefix
      ("large gear", "red gear", 0.8107142857142856), // odd mismatches: floor(t/2)
      ("abqqqqqq", "abzzzzzz", 0.5),              // prefix but jaro ≤ 0.7: NO boost
      ("abc", "abc", 1.0),
      ("ab", "ba", 0.0),                          // window 0 ⇒ no matches
      ("", "", 0.0),                              // DuckDB: empty ⇒ 0, not 1
      ("a", "", 0.0))
    val df = cases.toDF("a", "b", "exp")
    val got = df.select(Registry.jaroWinkler(col("a"), col("b")).as("jw"),
      col("exp")).collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
      s"jw=${r.getDouble(0)} expected ${r.getDouble(1)}"))
    // SQL surface + null propagation
    val viaSql = spark.sql(
      "SELECT graft_jaro_winkler('MARTHA', 'MARHTA'), graft_jaro_winkler('x', NULL)")
      .head
    assert(math.abs(viaSql.getDouble(0) - 0.9611111111111111) < 1e-12)
    assert(viaSql.isNullAt(1))
  }

  test("graft_nfc: composed == decomposed after NFC; ASCII fast path returns input; null-safe") {
    import spark.implicits._
    val composed = "caf\u00e9"      // precomposed e-acute
    val decomposed = "cafe\u0301"   // e + combining acute
    val rows = Seq((1L, composed), (2L, decomposed), (3L, "plain ascii"),
        (4L, null.asInstanceOf[String]))
      .toDF("id", "s")
      .selectExpr("id", "graft_nfc(s) AS n", "s")
      .orderBy("id").collect()
    assert(rows(0).getString(1) == composed)
    assert(rows(1).getString(1) == composed, "decomposed form must normalize to NFC")
    assert(rows(0).getString(1) == rows(1).getString(1))
    assert(rows(2).getString(1) == "plain ascii")
    assert(rows(3).isNullAt(1))
    // and the two forms hash identically post-normalization (the property
    // q299 and every content-keyed dedup stage rely on)
    val keys = Seq((1L, composed), (2L, decomposed)).toDF("id", "s")
      .selectExpr("md5(graft_nfc(s)) AS k").distinct().count()
    assert(keys == 1)
  }

  test("dead-bucket exclusion at the 256-value cutover stays one codegen " +
      "stage with the not-equals pushed to the scan") {
    // replicates Incremental.applyNearDupBatch's dropDead literal path at
    // its exact cutover boundary (256 chained =!= before the anti-join
    // switch): the ANDed not-equals must stay inside a single whole-stage
    // span — a codegen split (or fallback) here would put an interpreted
    // filter on every pruned history read
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val dir = java.nio.file.Files.createTempDirectory("graft_cutover").toString
    try {
      spark.range(2000)
        .select((col("id") % 500).as("bucket"), col("id").as("doc_id"))
        .coalesce(1).write.parquet(s"$dir/t")
      val base = spark.read.parquet(s"$dir/t")
      val filtered = (0L until 256L).foldLeft(base)(
        (d, v) => d.filter(col("bucket") =!= v))
      val plan = filtered.queryExecution.executedPlan.toString
      assert(plan.contains("*(1)"), s"no codegen span:\n${plan.take(800)}")
      assert(!plan.contains("*(2)"),
        s"cutover filter split into multiple codegen stages:\n${plan.take(800)}")
      assert(plan.contains("PushedFilters"),
        "not-equals must reach the parquet scan (row-group stats skipping)")
      // semantics at the boundary: buckets 0..255 excluded, 256..499 kept
      assert(filtered.count() == 244L * 4)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      graft.streaming.StateStore.deleteRec(dir)
    }
  }
}
