package graft.rules

import graft.SparkSpec
import graft.model.{Doc, Span, Violation}
import graft.operators.Validate
import org.apache.spark.sql.functions._

/** Golden tests re-expressing the reference's Gherkin scenario families
  * (the .feature files under /root/reference/features, FIXTURES.md §2) as Dataset checks:
  * rule + tiny deterministic table → exact violation messages (SURVEY.md §2.8).
  */
class RuleCompilerSpec extends SparkSpec {
  import spark.implicits._

  private def kw(k: Keywords) = Rule.Check(k)

  private def violationsFor(df: org.apache.spark.sql.DataFrame, rule: Rule): Seq[Violation] =
    Validate.violations(df, rule).collect().toSeq.sortBy(v => (v.doc_id, v.path, v.rule))

  // --- features/basics.feature: type keyword ---
  test("type: string on an int-typed field fails with reference message") { onBothEvalPaths {
    val df = Seq(("d1", 42)).toDF("doc_id", "n")
    val rule = kw(Keywords(properties = Map(
      "n" -> kw(Keywords(types = Some(List("string")))))))
    val vs = violationsFor(df, rule)
    assert(vs == Seq(Violation("d1", "n", "type", "Expected a string, but got: 42 (int)")))
  }}

  test("type: integer accepts whole doubles, rejects fractional (integer.rs:84-94)") { onBothEvalPaths {
    val df = Seq(("d1", 3.0), ("d2", 3.5)).toDF("doc_id", "x")
    val rule = kw(Keywords(properties = Map(
      "x" -> kw(Keywords(types = Some(List("integer")))))))
    val vs = violationsFor(df, rule)
    assert(vs == Seq(
      Violation("d2", "x", "type", "Expected an integer, but got: 3.5 (float)")))
  }}

  test("whole floats in [1e15, 2^63) render without an exponent (Num.fmt parity)") { onBothEvalPaths {
    // Rust's `{}` prints 1e15f64 as "1000000000000000"; a bare
    // cast-to-string would print "1.0E15" and break message parity
    val df = Seq(("d1", 1.0e15), ("d2", 9.0e18), ("d3", Long.MinValue.toDouble))
      .toDF("doc_id", "x")
    val rule = kw(Keywords(properties = Map(
      "x" -> kw(Keywords(types = Some(List("string")))))))
    val vs = violationsFor(df, rule)
    assert(vs == Seq(
      Violation("d1", "x", "type",
        "Expected a string, but got: 1000000000000000 (float)"),
      Violation("d2", "x", "type",
        "Expected a string, but got: 9000000000000000000 (float)"),
      // exactly -2^63 is long-representable: inclusive lower bound
      Violation("d3", "x", "type",
        "Expected a string, but got: -9223372036854775808 (float)")))
  }}

  test("type: [string, number] multi-type") { onBothEvalPaths {
    val df = Seq(("d1", true)).toDF("doc_id", "b")
    val rule = kw(Keywords(properties = Map(
      "b" -> kw(Keywords(types = Some(List("string", "number")))))))
    assert(violationsFor(df, rule) ==
      Seq(Violation("d1", "b", "type", "None of type: [string, number] matched")))
  }}

  // --- features/enums.feature ---
  test("enum violation message matches enum.rs:74-83") { onBothEvalPaths {
    val df = Seq(("d1", "blue"), ("d2", "red")).toDF("doc_id", "c")
    val rule = kw(Keywords(properties = Map(
      "c" -> kw(Keywords(enum_ = Some(List(
        ConstVal.VStr("red"), ConstVal.VStr("amber"), ConstVal.VStr("green"))))))))
    assert(violationsFor(df, rule) == Seq(Violation("d1", "c", "enum",
      "Value \"blue\" is not in the enum: [\"red\", \"amber\", \"green\"]")))
  }}

  // --- features/numeric.feature ---
  test("numeric bounds + multipleOf messages (numeric.rs:18-58)") { onBothEvalPaths {
    val df = Seq(("d1", -5), ("d2", 15), ("d3", 7), ("d4", 10)).toDF("doc_id", "n")
    val rule = kw(Keywords(properties = Map("n" -> kw(Keywords(
      minimum = Some(0), maximum = Some(10), multipleOf = Some(5))))))
    val vs = violationsFor(df, rule)
    assert(vs == Seq(
      Violation("d1", "n", "minimum", "Number must be greater than or equal to 0"),
      Violation("d2", "n", "maximum", "Number must be less than or equal to 10"),
      Violation("d3", "n", "multipleOf", "Number is not a multiple of 5!")))
  }}

  test("exclusive bounds") { onBothEvalPaths {
    val df = Seq(("d1", 0.0), ("d2", 10.0), ("d3", 5.0)).toDF("doc_id", "n")
    val rule = kw(Keywords(properties = Map("n" -> kw(Keywords(
      exclusiveMinimum = Some(0), exclusiveMaximum = Some(10))))))
    assert(violationsFor(df, rule) == Seq(
      Violation("d1", "n", "exclusiveMinimum", "Number must be greater than 0"),
      Violation("d2", "n", "exclusiveMaximum", "Number must be less than 10")))
  }}

  // --- features/strings.feature: length is Unicode scalar count ---
  test("minLength/maxLength count Unicode scalars, not bytes (strings.rs:64-79)") { onBothEvalPaths {
    val df = Seq(("d1", "αβγ"), ("d2", "abcdef"), ("d3", "ab")).toDF("doc_id", "s")
    val rule = kw(Keywords(properties = Map("s" -> kw(Keywords(
      minLength = Some(3), maxLength = Some(5))))))
    assert(violationsFor(df, rule) == Seq(
      Violation("d2", "s", "maxLength", "String is too long! (max length: 5)"),
      Violation("d3", "s", "minLength", "String is too short! (min length: 3)")))
  }}

  test("pattern is an unanchored search like Rust is_match (strings.rs:80-87)") { onBothEvalPaths {
    val df = Seq(("d1", "xx m-00ab12cd yy"), ("d2", "nope")).toDF("doc_id", "s")
    val rule = kw(Keywords(properties = Map("s" -> kw(Keywords(
      pattern = Some("m-[0-9a-f]{8}"))))))
    assert(violationsFor(df, rule) == Seq(Violation("d2", "s", "pattern",
      "String does not match regular expression m-[0-9a-f]{8}!")))
  }}

  // --- features/objects.feature ---
  test("required property missing (objects.rs:182-196); null field = missing") { onBothEvalPaths {
    val df = Seq(("d1", Some("x")), ("d2", None: Option[String])).toDF("doc_id", "f")
    val rule = kw(Keywords(required = List("f")))
    assert(violationsFor(df, rule) ==
      Seq(Violation("d2", "", "required", "Required property 'f' is missing!")))
  }}

  test("dependentRequired fires only when trigger present (objects.rs:222-241)") { onBothEvalPaths {
    val df = Seq(
      ("d1", Some("cc"), Some("addr")), ("d2", Some("cc"), None),
      ("d3", None, None)).toDF("doc_id", "card", "address")
    val rule = kw(Keywords(dependentRequired = Map("card" -> List("address"))))
    assert(violationsFor(df, rule) ==
      Seq(Violation("d2", "", "dependentRequired", "Required property 'address' is missing!")))
  }}

  // --- features/const.feature ---
  test("const deep-compare + message (yaml_schema.rs:877-888)") { onBothEvalPaths {
    val df = Seq(("d1", "a"), ("d2", "b")).toDF("doc_id", "v")
    val rule = kw(Keywords(properties = Map("v" -> kw(Keywords(
      const = Some(ConstVal.VStr("a")))))))
    assert(violationsFor(df, rule) == Seq(Violation("d2", "v", "const",
      "Expected const: \"a\", but got: \"b\"")))
  }}

  // --- features/arrays.feature ---
  test("min/maxItems with dynamic found-count (array.rs:151-174)") { onBothEvalPaths {
    val df = Seq(("d1", Seq(1, 2)), ("d2", Seq(1, 2, 3, 4, 5, 6)), ("d3", Seq(1, 2, 3)))
      .toDF("doc_id", "a")
    val rule = kw(Keywords(properties = Map("a" -> kw(Keywords(
      minItems = Some(3), maxItems = Some(5))))))
    assert(violationsFor(df, rule) == Seq(
      Violation("d1", "a", "minItems", "Array has too few items (minimum 3, found 2)"),
      Violation("d2", "a", "maxItems", "Array has too many items (maximum 5, found 6)")))
  }}

  test("uniqueItems reports each duplicate occurrence (array.rs:176-187)") { onBothEvalPaths {
    val df = Seq(("d1", Seq("x", "y", "x"))).toDF("doc_id", "a")
    val rule = kw(Keywords(properties = Map("a" -> kw(Keywords(uniqueItems = true)))))
    val vs = violationsFor(df, rule)
    assert(vs.exists(v => v.path == "a.2" &&
      v.message == "Duplicate array element: \"x\""))
  }}

  test("contains with min/maxContains and dynamic count (array.rs:190-222)") { onBothEvalPaths {
    val df = Seq(("d1", Seq(1, 1, 1)), ("d2", Seq(5, 6, 7))).toDF("doc_id", "a")
    val rule = kw(Keywords(properties = Map("a" -> kw(Keywords(
      contains = Some(kw(Keywords(minimum = Some(5)))),
      minContains = Some(2), maxContains = Some(2))))))
    assert(violationsFor(df, rule) == Seq(
      Violation("d1", "a", "minContains",
        "Array must contain at least 2 item(s) matching the contains schema, but only 0 matched"),
      Violation("d2", "a", "maxContains",
        "Array must contain at most 2 item(s) matching the contains schema, but 3 matched")))
  }}

  test("items validates each element with indexed path (array.rs:261-278)") { onBothEvalPaths {
    val df = Seq(("d1", Seq(1, -2, 3, -4))).toDF("doc_id", "a")
    val rule = kw(Keywords(properties = Map("a" -> kw(Keywords(
      items = Some(kw(Keywords(minimum = Some(0)))))))))
    val vs = violationsFor(df, rule)
    assert(vs.map(_.path) == Seq("a.1", "a.3"))
    assert(vs.forall(_.message == "Number must be greater than or equal to 0"))
  }}

  test("prefixItems + items:false tail (array.rs:225-259,246-251)") { onBothEvalPaths {
    val df = Seq(("d1", Seq(10, 20)), ("d2", Seq(10, 20, 30))).toDF("doc_id", "a")
    val rule = kw(Keywords(properties = Map("a" -> kw(Keywords(
      prefixItems = List(kw(Keywords(const = Some(ConstVal.VInt(10)))),
        kw(Keywords(const = Some(ConstVal.VInt(20))))),
      items = Some(Rule.Reject))))))
    assert(violationsFor(df, rule) ==
      Seq(Violation("d2", "a", "items", "Array items are not allowed!")))
  }}

  // --- composition: only summary messages surface (context.rs:72-103) ---
  test("allOf/anyOf/oneOf/not summary messages") { onBothEvalPaths {
    val df = Seq(("d1", 7)).toDF("doc_id", "n")
    def p(r: Keywords) = kw(Keywords(properties = Map("n" -> kw(r))))
    assert(violationsFor(df, kw(Keywords(properties = Map("n" -> kw(Keywords(
      allOf = List(kw(Keywords(minimum = Some(0))), kw(Keywords(maximum = Some(5))))))))))
      == Seq(Violation("d1", "n", "allOf", "Not all of the schemas in `allOf` matched!")))
    assert(violationsFor(df, kw(Keywords(properties = Map("n" -> kw(Keywords(
      anyOf = List(kw(Keywords(maximum = Some(5))), kw(Keywords(minimum = Some(10))))))))))
      == Seq(Violation("d1", "n", "anyOf", "None of the schemas in `anyOf` matched!")))
    assert(violationsFor(df, kw(Keywords(properties = Map("n" -> kw(Keywords(
      oneOf = List(kw(Keywords(minimum = Some(0))), kw(Keywords(maximum = Some(10))))))))))
      == Seq(Violation("d1", "n", "oneOf", "Value matched multiple schemas in `oneOf`!")))
    assert(violationsFor(df, kw(Keywords(properties = Map("n" -> kw(Keywords(
      oneOf = List(kw(Keywords(minimum = Some(10))), kw(Keywords(maximum = Some(5))))))))))
      == Seq(Violation("d1", "n", "oneOf", "None of the schemas in `oneOf` matched!")))
    assert(violationsFor(df, kw(Keywords(properties = Map("n" -> kw(Keywords(
      not = Some(kw(Keywords(minimum = Some(0))))))))))
      == Seq(Violation("d1", "n", "not", "Value matches schema in `not`")))
  }}

  test("if/then/else selects branch; if-errors never surface (if_then_else.rs:79-112)") { onBothEvalPaths {
    val df = Seq(("d1", 100), ("d2", 3)).toDF("doc_id", "n")
    val rule = kw(Keywords(properties = Map("n" -> kw(Keywords(
      ifRule = Some(kw(Keywords(minimum = Some(10)))),
      thenRule = Some(kw(Keywords(maximum = Some(50)))),
      elseRule = Some(kw(Keywords(minimum = Some(5)))))))))
    val vs = violationsFor(df, rule)
    assert(vs.map(v => (v.doc_id, v.rule)).toSet ==
      Set(("d1", "maximum"), ("d2", "minimum")))
  }}

  // --- references ---
  test("$ref resolves against defs; unknown ref errors at compile") { onBothEvalPaths {
    val df = Seq(("d1", -1)).toDF("doc_id", "n")
    val defs = Map("nonneg" -> kw(Keywords(minimum = Some(0))))
    val rule = kw(Keywords(properties = Map("n" -> Rule.Ref("nonneg"))))
    assert(Validate.violations(df, rule, defs).collect().head.rule == "minimum")
    intercept[IllegalArgumentException] {
      Validate.violations(df, kw(Keywords(properties = Map("n" -> Rule.Ref("missing")))),
        Map.empty).collect()
    }
  }}

  // --- formats ---
  test("format validators incl. procedural calendar check (formats.rs:45-274)") { onBothEvalPaths {
    val rows = Seq(
      ("d01", "date", "2024-02-29", true), // leap year
      ("d02", "date", "2023-02-29", false), // not a leap year
      ("d03", "date", "2023-13-01", false),
      ("d04", "date-time", "2023-06-01T10:30:00Z", true),
      ("d05", "date-time", "2023-06-01 10:30:00+05:30", true),
      ("d06", "time", "23:59:60Z", true),
      ("d07", "time", "24:00:00Z", false),
      ("d08", "email", "a.b+c@example.co", true),
      ("d09", "email", "not an email", false),
      ("d10", "hostname", "a-1.example.com", true),
      ("d11", "hostname", "-bad.example", false),
      ("d12", "ipv4", "192.168.0.255", true),
      ("d13", "ipv4", "256.1.1.1", false),
      ("d14", "ipv6", "2001:db8::8a2e:370:7334", true),
      ("d15", "ipv6", "not:ipv6", false),
      ("d16", "uuid", "550e8400-e29b-41d4-a716-446655440000", true),
      ("d17", "uuid", "550e8400", false),
      ("d18", "uri", "https://example.com/a?b=c", true),
      ("d19", "uri", "/relative/only", false),
      ("d20", "uri-reference", "/relative/only", true),
      ("d21", "uri-template", "/users/{id}/posts{?limit}", true),
      ("d22", "uri-template", "/users/{id", false),
      ("d23", "json-pointer", "/a/b~0c/0", true),
      ("d24", "json-pointer", "/a/~2", false),
      ("d25", "relative-json-pointer", "2/a/b", true),
      ("d26", "relative-json-pointer", "01/a", false),
      ("d27", "duration", "P1Y2M3DT4H5M6S", true),
      ("d28", "duration", "P", false),
      ("d29", "regex", "^a[bc]+$", true),
      ("d30", "regex", "a(b", false),
      ("d31", "unknown-format", "anything", true))
    rows.groupBy(_._2).foreach { case (fmt, group) =>
      val df = group.map(r => (r._1, r._3)).toDF("doc_id", "s")
      val rule = kw(Keywords(properties = Map("s" -> kw(Keywords(format = Some(fmt))))))
      val got = Validate.violations(df, rule).collect().map(_.doc_id).toSet
      val expected = group.filter(!_._4).map(_._1).toSet
      assert(got == expected, s"format=$fmt: got=$got expected=$expected")
      group.filter(!_._4).headOption.foreach { r =>
        val v = Validate.violations(df, rule).collect().find(_.doc_id == r._1).get
        assert(v.message == s"String \"${r._3}\" is not a valid \"$fmt\"")
      }
    }
  }}

  test("type: integer accepts whole doubles beyond long range (no floor saturation)") { onBothEvalPaths {
    val df = Seq(("d1", 1e19), ("d2", 1e19 + 4096.0), ("d3", 2.5)).toDF("doc_id", "x")
    val rule = kw(Keywords(properties = Map(
      "x" -> kw(Keywords(types = Some(List("integer")))))))
    val vs = violationsFor(df, rule)
    assert(vs.map(_.doc_id) == Seq("d3"), vs.mkString(","))
  }}

  test("whole floats render without .0 in messages (Rust {} parity)") { onBothEvalPaths {
    val df = Seq(("d1", 1.0), ("d2", 1.5)).toDF("doc_id", "x")
    val rule = kw(Keywords(properties = Map(
      "x" -> kw(Keywords(const = Some(ConstVal.VNum(2.0)))))))
    val vs = violationsFor(df, rule)
    assert(vs.map(_.message) == Seq(
      "Expected const: 2, but got: 1",
      "Expected const: 2, but got: 1.5"), vs.mkString(","))
  }}

  test("format anchors reject trailing newlines (Rust $ = end-of-haystack)") { onBothEvalPaths {
    val df = Seq(("d1", "12:30:00Z"), ("d2", "12:30:00Z\n")).toDF("doc_id", "t")
    val rule = kw(Keywords(properties = Map(
      "t" -> kw(Keywords(format = Some("time"))))))
    val vs = violationsFor(df, rule)
    assert(vs.map(_.doc_id) == Seq("d2"), vs.mkString(","))
    val df2 = Seq(("d1", "10.0.0.1"), ("d2", "10.0.0.1\n")).toDF("doc_id", "t")
    val rule2 = kw(Keywords(properties = Map(
      "t" -> kw(Keywords(format = Some("ipv4"))))))
    assert(violationsFor(df2, rule2).map(_.doc_id) == Seq("d2"))
  }}

  test("dependentRequired and dependentSchemas work on map columns") { onBothEvalPaths {
    val df = Seq(
      ("d1", Map("card" -> "x", "address" -> "y")),
      ("d2", Map("card" -> "x")),
      ("d3", Map("other" -> "z"))).toDF("doc_id", "m")
    val rule = kw(Keywords(properties = Map(
      "m" -> kw(Keywords(dependentRequired = Map("card" -> List("address")))))))
    val vs = violationsFor(df, rule)
    assert(vs == Seq(
      Violation("d2", "m", "dependentRequired", "Required property 'address' is missing!")),
      vs.mkString(","))
    val rule2 = kw(Keywords(properties = Map(
      "m" -> kw(Keywords(dependentSchemas = Map(
        "card" -> kw(Keywords(required = List("address")))))))))
    val vs2 = violationsFor(df, rule2)
    assert(vs2.length == 1 && vs2.head.doc_id == "d2" && vs2.head.rule == "required",
      vs2.mkString(","))
  }}

  test("idn/iri format aliases validate as their base formats (formats.rs:21,28-29)") { onBothEvalPaths {
    // (format, value, valid-per-reference)
    val rows = Seq(
      ("idn-email", "a.b+c@example.co", true),
      ("idn-email", "not an email", false), // the old accept-all fallthrough hid this
      ("iri", "https://example.com/a", true),
      ("iri", "/relative/only", false),
      ("iri-reference", "/relative/only", true),
      ("iri-reference", "http://exa mple.com", false),
      ("idn-hostname", "anything at all", true)) // reference: always true
    rows.groupBy(_._1).foreach { case (fmt, group) =>
      val df = group.zipWithIndex.map { case (r, i) => (s"d$i", r._2) }.toDF("doc_id", "s")
      val rule = kw(Keywords(properties = Map("s" -> kw(Keywords(format = Some(fmt))))))
      val got = Validate.violations(df, rule).collect().map(_.doc_id).toSet
      val expected = group.zipWithIndex.filter(!_._1._3).map(p => s"d${p._2}").toSet
      assert(got == expected, s"format=$fmt: got=$got expected=$expected")
    }
  }}
}
