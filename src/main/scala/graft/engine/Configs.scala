package graft.engine

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.engine.Aggregations.AggSpec
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The reference's four JSON config files, parsed to the engine's config
  * tree (exact key names from /root/reference/ETL_Pipeline_Entire/):
  *
  * - extraction.json: {"tables": [..], "extraction_type": "Full Refresh" |
  *   "Incremental Load"} — one mode for all tables
  *   (data_extraction.py:130-136; source_db block is MySQL connection
  *   info, superseded by the layer directory here)
  * - mapping_status.json: {"mapping": bool} (scheduler.py:58-65)
  * - selected_transformations.json:
  *   {"selected_transformations": ["Remove Duplicates", ...]}
  *   (scheduler.py:127)
  * - selected_aggregation_parameters.json: {table: {"groupby_columns": [],
  *   "aggregation_columns": [], "aggregation_functions": []}}
  *   (scheduler.py:150-157)
  *
  * Status outputs mirror the reference's gate files
  * (transformation_status.json etc., front_end.py:40-49).
  */
object Configs {

  private val mapper = new ObjectMapper()

  /** A list-valued key: absent or JSON null reads as empty, and any other
    * non-array value refuses — reading `{"tables": "orders"}` as empty
    * would extract no table and still succeed.
    */
  private def strings(n: JsonNode, key: String, file: String): Seq[String] =
    if (n == null || n.isNull) Nil
    else {
      require(n.isArray,
        s"$file: $key must be a JSON array, got ${n.getNodeType}")
      n.elements().asScala.map(_.asText()).toSeq
    }

  def parseExtraction(json: String): Seq[Extraction.TableJob] = {
    val root = mapper.readTree(json)
    // filter(!_.isNull): an explicit JSON null used to become the
    // literal mode string "null" (NullNode.asText), failing every table
    // with unknown-mode where the reference's dict.get(None) defaults
    // (code-review r14)
    val mode = Option(root.get("extraction_type")).filter(!_.isNull)
      .map(_.asText()).getOrElse("Full Refresh")
    strings(root.get("tables"), "tables", "extraction.json")
      .map(t => Extraction.TableJob(t, mode))
  }

  def parseMappingStatus(json: String): Boolean = {
    val root = mapper.readTree(json)
    Option(root.get("mapping")).forall(_.asBoolean(true))
  }

  def parseTransformations(json: String): Seq[String] = {
    val root = mapper.readTree(json)
    strings(root.get("selected_transformations"), "selected_transformations",
      "selected_transformations.json")
  }

  def parseAggregations(json: String): Map[String, AggSpec] = {
    val root = mapper.readTree(json)
    root.properties().asScala.map { e =>
      val p = e.getValue
      // the "sum" default applies only when the KEY IS ABSENT
      // (scheduler.py:155 .get(..., ["sum"])); an explicitly EMPTY list
      // is falsy in the reference's `if ... and agg_funcs` guard and
      // skips the table — coercing it to sum would emit an agg output
      // the reference pipeline never produces. Empty funcs flow through
      // and Aggregations.aggregate skips (A3).
      def list(key: String) = strings(p.get(key), s"${e.getKey}.$key",
        "selected_aggregation_parameters.json")
      val funcs =
        if (p.get("aggregation_functions") == null) Seq("sum")
        else list("aggregation_functions")
      e.getKey -> AggSpec(
        groupBy = list("groupby_columns"),
        aggCols = list("aggregation_columns"),
        funcs = funcs)
    }.toMap
  }

  /** Assemble a Pipeline.Config from a directory holding any subset of the
    * four files; absent files take the reference's defaults (no tables,
    * mapping on, no transforms, no aggregations).
    */
  def load(dir: String): Pipeline.Config = {
    def read(name: String): Option[String] = {
      val p = Paths.get(dir, name)
      if (Files.exists(p)) Some(Files.readString(p)) else None
    }
    Pipeline.Config(
      extraction = read("extraction.json").map(parseExtraction).getOrElse(Nil),
      mappingEnabled = read("mapping_status.json")
        .map(parseMappingStatus).getOrElse(true),
      transforms = read("selected_transformations.json")
        .map(parseTransformations).getOrElse(Nil),
      aggregations = read("selected_aggregation_parameters.json")
        .map(parseAggregations).getOrElse(Map.empty))
  }

  /** Stage-completion status files (the reference's replay gates). */
  def writeStatus(dir: String, name: String, key: String,
                  value: Boolean): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, name), s"""{"$key": $value}"""): Unit
  }
}
