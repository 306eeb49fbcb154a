package graft

import graft.engine.{Configs, Extraction}
import graft.engine.Aggregations.AggSpec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Config-file parity with the reference's JSON shapes. */
class ConfigsSpec extends AnyFunSuite {

  test("extraction.json: one mode for all tables") {
    val jobs = Configs.parseExtraction(
      """{"source_db": {"host": "h", "user": "u", "password": "p", "db": "d"},
        | "tables": ["customers", "orders"],
        | "extraction_type": "Incremental Load"}""".stripMargin)
    assert(jobs == Seq(
      Extraction.TableJob("customers", "Incremental Load"),
      Extraction.TableJob("orders", "Incremental Load")))
    // explicit JSON null defaults like an absent key (dict.get parity):
    // it used to become the literal mode string "null" and fail every
    // table with unknown-mode (code-review r14)
    val nullMode = Configs.parseExtraction(
      """{"tables": ["t1"], "extraction_type": null}""")
    assert(nullMode == Seq(Extraction.TableJob("t1", "Full Refresh")))
  }

  test("mapping_status.json: flag, default true when absent") {
    assert(!Configs.parseMappingStatus("""{"mapping": false}"""))
    assert(Configs.parseMappingStatus("""{"mapping": true}"""))
    assert(Configs.parseMappingStatus("""{}"""))
  }

  test("selected_transformations.json list") {
    assert(Configs.parseTransformations(
      """{"selected_transformations": ["Trim Whitespace", "Remove Duplicates"]}""")
      == Seq("Trim Whitespace", "Remove Duplicates"))
  }

  test("selected_aggregation_parameters.json: per-table specs, sum default") {
    val specs = Configs.parseAggregations(
      """{"orders": {"groupby_columns": ["status"],
        |            "aggregation_columns": ["total"],
        |            "aggregation_functions": ["sum", "mean"]},
        | "items": {"groupby_columns": ["k"], "aggregation_columns": ["v"]}}""".stripMargin)
    assert(specs("orders") == AggSpec(Seq("status"), Seq("total"), Seq("sum", "mean")))
    assert(specs("items").funcs == Seq("sum")) // scheduler default
  }

  test("a list key holding a non-array value refuses, naming the key and the file; null reads as absent") {
    def refusal(parse: => Any): String =
      intercept[IllegalArgumentException](parse).getMessage
    val ext = refusal(Configs.parseExtraction("""{"tables": "orders"}"""))
    assert(ext.contains("extraction.json") && ext.contains("tables"), ext)
    val tr = refusal(Configs.parseTransformations(
      """{"selected_transformations": "Remove Duplicates"}"""))
    assert(tr.contains("selected_transformations.json")
      && tr.contains("selected_transformations"), tr)
    val agg = refusal(Configs.parseAggregations(
      """{"orders": {"groupby_columns": "status", "aggregation_columns": ["total"]}}"""))
    assert(agg.contains("selected_aggregation_parameters.json")
      && agg.contains("orders.groupby_columns"), agg)
    assert(Configs.parseExtraction("""{"tables": null}""").isEmpty)
    assert(Configs.parseTransformations(
      """{"selected_transformations": null}""").isEmpty)
  }

  test("a mapping flag that is not a JSON boolean refuses, naming the key and the file; null reads as absent") {
    // Jackson's asBoolean(true) read "no" as true and 0 as false
    for (v <- Seq("\"no\"", "\"false\"", "0", "1", "[]")) {
      val e = intercept[IllegalArgumentException](
        Configs.parseMappingStatus(s"""{"mapping": $v}"""))
      assert(e.getMessage.contains("mapping_status.json")
        && e.getMessage.contains("mapping must be a JSON boolean"), e.getMessage)
    }
    assert(Configs.parseMappingStatus("""{"mapping": null}"""))
  }

  test("an aggregation table entry that is not a JSON object refuses, naming the table and the file") {
    // a string entry used to read as a spec with no columns, which the
    // A3 guard skips, so the stage succeeded having aggregated nothing
    for (v <- Seq("\"x\"", "[]", "3")) {
      val e = intercept[IllegalArgumentException](Configs.parseAggregations(
        s"""{"orders": $v, "items": {"groupby_columns": ["k"]}}"""))
      assert(e.getMessage.contains("selected_aggregation_parameters.json")
        && e.getMessage.contains("orders must be a JSON object"), e.getMessage)
    }
    // a null entry reads as not set: the table is not aggregated
    assert(Configs.parseAggregations(
      """{"orders": null, "items": {"groupby_columns": ["k"]}}""").keySet
      == Set("items"))
  }

  test("list elements, scalar strings and the top level must have their JSON type") {
    def refusal(parse: => Any): String =
      intercept[IllegalArgumentException](parse).getMessage
    val el = refusal(Configs.parseExtraction("""{"tables": ["t1", 2]}"""))
    assert(el.contains("extraction.json") && el.contains("tables must be a JSON array of strings"), el)
    val mode = refusal(Configs.parseExtraction("""{"tables": [], "extraction_type": 1}"""))
    assert(mode.contains("extraction_type must be a JSON string"), mode)
    val top = refusal(Configs.parseTransformations("""["Remove Duplicates"]"""))
    assert(top.contains("selected_transformations.json")
      && top.contains("must be a JSON object"), top)
  }

  test("load: directory assembly with defaults for absent files") {
    val dir = TestTmp.dir("cfg")
    Files.writeString(java.nio.file.Paths.get(dir, "extraction.json"),
      """{"tables": ["t1"], "extraction_type": "Full Refresh"}""")
    val cfg = Configs.load(dir)
    assert(cfg.extraction == Seq(Extraction.TableJob("t1", "Full Refresh")))
    assert(cfg.mappingEnabled && cfg.transforms.isEmpty && cfg.aggregations.isEmpty)
  }

  test("status gate files round-trip") {
    val dir = TestTmp.dir("st")
    Configs.writeStatus(dir, "transformation_status.json",
      "transformation_complete", value = true)
    val s = Files.readString(java.nio.file.Paths.get(dir, "transformation_status.json"))
    assert(s == """{"transformation_complete": true}""")
  }
}
