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
