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

  /** Strict reads of one JSON config object, shared by every config
    * parser (these four files and `Curation`'s two configs). An absent
    * key and JSON null both read as "not set"; a value of the wrong JSON
    * type refuses, naming the file and the key. Jackson's own readers
    * coerce instead: `asBoolean(true)` reads `"no"` as true and `0` as
    * false, `asLong` reads `"3k"` as 0, and `get` on a string reads every
    * key as absent.
    */
  private[graft] final class Fields(node: JsonNode, file: String,
                                    path: String = "") {
    private def name(key: String) = if (path.isEmpty) key else s"$path.$key"
    require(node.isObject, s"$file: ${if (path.isEmpty) "the config" else path}" +
      s" must be a JSON object, got ${node.getNodeType}")

    /** Refuse keys outside `known`: a typoed key would otherwise read as
      * absent and silently disable its stage. */
    def onlyKeys(known: Set[String]): Unit = {
      val unknown = node.fieldNames().asScala.toSet -- known
      require(unknown.isEmpty, s"$file: unknown keys: " +
        s"${unknown.toSeq.sorted.mkString(", ")} " +
        s"(known: ${known.toSeq.sorted.mkString(", ")})")
    }

    /** Whether the key is present, even as JSON null. */
    def has(key: String): Boolean = node.has(key)

    private def get(key: String, kind: String,
                    ok: JsonNode => Boolean): Option[JsonNode] =
      Option(node.get(key)).filterNot(_.isNull).map { n =>
        require(ok(n), s"$file: ${name(key)} must be a JSON $kind, " +
          s"got ${n.getNodeType}")
        n
      }
    def bool(key: String): Option[Boolean] =
      get(key, "boolean", _.isBoolean).map(_.booleanValue)
    def number(key: String): Option[Double] =
      get(key, "number", _.isNumber).map(_.asDouble)
    def integer(key: String): Option[Long] =
      get(key, "integer", _.isIntegralNumber).map(_.asLong)
    def text(key: String): Option[String] =
      get(key, "string", _.isTextual).map(_.asText)
    def strings(key: String): Option[Seq[String]] =
      get(key, "array of strings",
        n => n.isArray && n.elements().asScala.forall(_.isTextual))
        .map(_.elements().asScala.map(_.asText).toSeq)

    /** Every key whose value is set, read as a nested object. */
    def objects: Seq[(String, Fields)] =
      node.properties().asScala.toSeq.filterNot(_.getValue.isNull)
        .map(e => e.getKey -> new Fields(e.getValue, file, name(e.getKey)))
  }

  private[graft] object Fields {
    def apply(json: String, file: String): Fields =
      new Fields(mapper.readTree(json), file)
  }

  def parseExtraction(json: String): Seq[Extraction.TableJob] = {
    val f = Fields(json, "extraction.json")
    // an explicit JSON null defaults like an absent key (the reference's
    // dict.get)
    val mode = f.text("extraction_type").getOrElse("Full Refresh")
    f.strings("tables").getOrElse(Nil).map(t => Extraction.TableJob(t, mode))
  }

  def parseMappingStatus(json: String): Boolean =
    Fields(json, "mapping_status.json").bool("mapping").getOrElse(true)

  def parseTransformations(json: String): Seq[String] =
    Fields(json, "selected_transformations.json")
      .strings("selected_transformations").getOrElse(Nil)

  def parseAggregations(json: String): Map[String, AggSpec] =
    Fields(json, "selected_aggregation_parameters.json").objects.map {
      case (table, p) =>
        // the "sum" default applies only when the KEY IS ABSENT
        // (scheduler.py:155 .get(..., ["sum"])); an explicit null or an
        // EMPTY list is falsy in the reference's `if ... and agg_funcs`
        // guard and skips the table — coercing it to sum would emit an
        // agg output the reference pipeline never produces. Empty funcs
        // flow through and Aggregations.aggregate skips (A3).
        def list(key: String) = p.strings(key).getOrElse(Nil)
        val funcs =
          if (!p.has("aggregation_functions")) Seq("sum")
          else list("aggregation_functions")
        table -> AggSpec(
          groupBy = list("groupby_columns"),
          aggCols = list("aggregation_columns"),
          funcs = funcs)
    }.toMap

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
