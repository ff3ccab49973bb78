package graft.rules

import graft.SparkSpec
import graft.operators.Validate
import java.nio.file.Files

/** External FILE $ref resolution (SURVEY.md §2.6, file-scheme subset):
  * refs across files, fragments into a file's $defs, cache by canonical
  * path, unresolvable refs error with the reference's message shape.
  */
class FileRefSpec extends SparkSpec {
  import spark.implicits._

  test("whole-file and fragment refs across files resolve and validate") { onBothEvalPaths {
    val dir = Files.createTempDirectory("graft_refs")
    Files.writeString(dir.resolve("common.yaml"),
      """$defs:
        |  nonneg:
        |    type: number
        |    minimum: 0
        |type: object
        |properties:
        |  y: { minimum: 10 }
        |""".stripMargin)
    Files.writeString(dir.resolve("root.yaml"),
      """properties:
        |  x: { $ref: "common.yaml#/$defs/nonneg" }
        |allOf:
        |  - { $ref: "common.yaml" }
        |""".stripMargin)
    val loaded = RuleLoader.loadFile(dir.resolve("root.yaml").toString)
    val df = Seq(("d1", -1.0, 20.0), ("d2", 5.0, 3.0), ("d3", 5.0, 20.0))
      .toDF("doc_id", "x", "y")
    val vs = Validate.violations(df, loaded.root, loaded.defs).collect().toSeq
      .sortBy(_.doc_id)
    // d1: x fails the fragment ref's minimum; d2: whole-file ref's allOf
    // branch fails (y < 10) -> summary message only
    assert(vs.map(v => (v.doc_id, v.rule)) ==
      Seq(("d1", "minimum"), ("d2", "allOf")))
  }}

  test("multi-schema preload: $ref by $id across preloaded files (ys.rs:133-177)") { onBothEvalPaths {
    val dir = Files.createTempDirectory("graft_preload")
    Files.writeString(dir.resolve("types.yaml"),
      """$id: urn:graft:types
        |$defs:
        |  lang:
        |    enum: [en, de, fr]
        |""".stripMargin)
    Files.writeString(dir.resolve("doc.yaml"),
      """$id: urn:graft:doc
        |type: object
        |properties:
        |  lang: { $ref: "urn:graft:types#/$defs/lang" }
        |required: [lang]
        |""".stripMargin)
    Files.writeString(dir.resolve("root.yaml"),
      "allOf:\n  - { $ref: \"urn:graft:doc\" }\n")
    val loaded = RuleLoader.loadFiles(Seq(
      dir.resolve("root.yaml").toString,
      dir.resolve("doc.yaml").toString,
      dir.resolve("types.yaml").toString))
    val df = Seq(("d1", "en"), ("d2", "xx"), ("d3", null))
      .toDF("doc_id", "lang")
    val vs = Validate.violations(df, loaded.root, loaded.defs).collect().toSeq
      .sortBy(v => (v.doc_id, v.rule))
    assert(vs.map(v => (v.doc_id, v.rule)) ==
      Seq(("d2", "allOf"), ("d3", "allOf")), vs.mkString("; "))
  }}

  test("missing file ref errors with the reference's message shape") {
    val dir = Files.createTempDirectory("graft_refs2")
    Files.writeString(dir.resolve("root.yaml"),
      "properties:\n  x: { $ref: \"nope.yaml#/$defs/z\" }\n")
    val e = intercept[IllegalArgumentException] {
      RuleLoader.loadFile(dir.resolve("root.yaml").toString)
    }
    assert(e.getMessage.contains("not found")) // yaml_schema.rs:733 shape
  }

  test("file refs without a base dir (loadString) are rejected") {
    val e = intercept[IllegalArgumentException] {
      RuleLoader.loadString("properties:\n  x: { $ref: \"other.yaml\" }\n")
    }
    assert(e.getMessage.contains("not found"))
  }
}
