package graft.render

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.core._

/**
 * JSON Response writer — renders the typed response object model
 * (grid / multidimgrid / tree / digraph / text) in the reference's wire
 * format (`/root/reference/src/oph_json/oph_json_common.c:80-260`
 * envelope, `:387-440` objcontent array; objkeys
 * `oph_json_objkeys.h:27-173`; structures `oph_json_grid.h:38-47`,
 * `oph_json_multigrid.h:50-71`, `oph_json_tree.h:39-49`).
 *
 * Each response element is `{objkey, objclass, objcontent: [...]}` —
 * the content fields (title/message/rowkeys/rowvalues) live inside the
 * objcontent array, one entry per content fragment, exactly as
 * PyOphidia-style consumers expect. The envelope's `source` carries the
 * fixed reference keys (srckey/srcname/producer) plus free keys/values
 * arrays (`oph_json_common.h:75-95`).
 *
 * The writer is driver-side by design: response objects are the
 * human-facing slice (explore/list/metadata outputs), never the data
 * plane. Operators build their answer grids in their tasks (`gridOf`
 * caps a frame's collect at `MaxGridRows`), so rendering a response is
 * pure serialization. `read` inverts `render(o)` for the run store.
 */
object ResponseWriter {

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def q(s: String): String = "\"" + esc(s) + "\""

  /** Shared JSON string quoting — the single escaper for every JSON
    * emitter in the project (response render, HTTP replies, persisted
    * session state): one place to fix escaping, three users. */
  def jsonQuote(s: String): String = "\"" + esc(Option(s).getOrElse("")) + "\""

  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}")

  /** nodelinks in the reference wire shape (`oph_json_common.c:
    * 1031-1090`): ONE array element per node, holding that node's
    * outgoing links as `{node: "<target index>", description?}` —
    * never a flat edge list. `description` is omitted when absent,
    * like the C writer omits NULL fields. */
  private def nodeLinks(nodeCount: Int, links: Seq[GraphLink]): String = {
    val bySource = links.groupBy(_.node1)
    arr((0 until nodeCount).map { k =>
      arr(bySource.getOrElse(k, Seq.empty).map { l =>
        val fields = Seq("node" -> q(l.node2.toString)) ++
          (if (l.description.nonEmpty)
            Seq("description" -> q(l.description)) else Seq.empty)
        obj(fields: _*)
      })
    })
  }

  /** The objcontent fragment — field NAMES and ORDER match the
    * reference writer exactly (`oph_json_common.c`: text :431-439,
    * grid :470-548, multigrid :602-855, tree :910-1024,
    * (di)graph :1111-1212); ResponseFidelitySpec pins each one. */
  private def content(o: ResponseObject): String = o match {
    case TextObj(_, title, message) =>
      obj("title" -> q(title), "message" -> q(message))
    case Grid(_, title, keys, fieldTypes, values) =>
      obj("title" -> q(title),
        "rowkeys" -> arr(keys.map(q)),
        "rowfieldtypes" -> arr(fieldTypes.map(q)),
        "rowvalues" -> arr(values.map(r => arr(r.map(q)))))
    case MultiDimGrid(_, title, rowKeys, rowTypes, colKeys, colTypes,
        colValues, measureName, measureType, rowValues, measureValues) =>
      obj("title" -> q(title),
        "measurename" -> q(measureName),
        "measuretype" -> q(measureType),
        "rowkeys" -> arr(rowKeys.map(q)),
        "rowfieldtypes" -> arr(rowTypes.map(q)),
        "rowvalues" -> arr(rowValues.map(r => arr(r.map(q)))),
        "colkeys" -> arr(colKeys.map(q)),
        "colfieldtypes" -> arr(colTypes.map(q)),
        "colvalues" -> arr(colValues.map(r => arr(r.map(q)))),
        "measurevalues" -> arr(measureValues.map(r => arr(r.map(q)))))
    case TreeObj(_, title, description, rootnode, nodeKeys, nodes, links) =>
      val fields = Seq("title" -> q(title)) ++
        description.map(d => "description" -> q(d)).toSeq ++ Seq(
        "rootnode" -> q(rootnode.toString),
        "nodekeys" -> arr(nodeKeys.map(q)),
        "nodevalues" -> arr(nodes.map(n => arr(n.values.map(q)))),
        "nodelinks" -> nodeLinks(nodes.size, links))
      obj(fields: _*)
    case GraphObj(_, title, _, nodeKeys, nodes, links) =>
      obj("title" -> q(title),
        "nodekeys" -> arr(nodeKeys.map(q)),
        "nodevalues" -> arr(nodes.map(n => arr(n.values.map(q)))),
        "nodelinks" -> nodeLinks(nodes.size, links))
  }

  private def objclass(o: ResponseObject): String = o match {
    case _: TextObj => "text"
    case _: Grid => "grid"
    case _: MultiDimGrid => "multidimgrid"
    case _: TreeObj => "tree"
    case g: GraphObj => if (g.directed) "digraph" else "graph"
  }

  /** Render one response element `{objkey, objclass, objcontent:[...]}`
    * (`oph_json_common.c:387-440`). */
  def render(o: ResponseObject): String =
    obj("objkey" -> q(o.objkey), "objclass" -> q(objclass(o)),
      "objcontent" -> arr(Seq(content(o))))

  /** Render a full response envelope, following
    * `oph_json_common.c:80-260`: `source` holds the fixed reference keys
    * (srckey/srcname/producer) and the remaining pairs as parallel
    * keys/values arrays. */
  def render(r: Response): String = {
    val fixed = Seq("srckey" -> ("srckey", "session"),
      "srcname" -> ("srcname", "workflow"), "producer" -> ("producer", ""))
    def pick(primary: String, alias: String): Option[String] =
      r.source.get(primary).orElse(r.source.get(alias))
    val fixedFields = fixed.flatMap { case (out, (primary, alias)) =>
      pick(primary, alias).map(v => out -> q(v))
    }
    val fixedKeys = fixed.flatMap { case (_, (p, a)) => Seq(p, a) }.toSet
    val free = r.source.toSeq.filterNot(kv => fixedKeys(kv._1)).sortBy(_._1)
    val sourceFields = fixedFields ++ Seq(
      "keys" -> arr(free.map(kv => q(kv._1))),
      "values" -> arr(free.map(kv => q(kv._2))))
    // envelope key order per `oph_json_common.c`: source(:93),
    // consumers(:284), responseKeyset(:311), response(:338) — the
    // keyset lists each response element's objkey in order
    obj(
      "source" -> obj(sourceFields: _*),
      "consumers" -> arr(r.consumers.map(q)),
      "responseKeyset" -> arr(r.objects.map(o => q(o.objkey))),
      "response" -> arr(r.objects.map(render)))
  }

  /** The most rows a response grid shows, whatever the operator's own
    * limit (explorecube's `limit_filter` included). */
  val MaxGridRows = 100

  /** A grid cell: the value's `toString`, "null" for null. */
  def cell(v: Any): String = Option(v).map(_.toString).getOrElse("null")

  /** Build a Grid from a DataFrame (driver-side, capped collect). */
  def gridOf(objkey: String, title: String, df: DataFrame,
      limit: Int = MaxGridRows): Grid = {
    val capped = df.limit(limit)
    gridOf(objkey, title, capped.schema, capped.collect().toSeq)
  }

  /** Build a Grid from rows already on the driver. */
  def gridOf(objkey: String, title: String, schema: StructType,
      rows: Seq[Row]): Grid =
    Grid(objkey, title, schema.fieldNames.toSeq,
      schema.fields.toSeq.map(f => SparkTypeName(f.dataType)),
      rows.map(_.toSeq.map(cell)))

  /** A task answer object (text, grid or tree: what operators return)
    * back from its `render(o)` wire form. */
  def read(n: JsonNode): ResponseObject = {
    import scala.jdk.CollectionConverters._
    val c = n.get("objcontent").get(0)
    def str(f: String) = c.get(f).asText
    def strs(j: JsonNode) = j.asScala.map(_.asText).toSeq
    def rows(f: String) = c.get(f).asScala.map(strs).toSeq
    val key = n.get("objkey").asText
    n.get("objclass").asText match {
      case "text" => TextObj(key, str("title"), str("message"))
      case "grid" => Grid(key, str("title"), strs(c.get("rowkeys")),
        strs(c.get("rowfieldtypes")), rows("rowvalues"))
      case "tree" => TreeObj(key, str("title"),
        Option(c.get("description")).map(_.asText), str("rootnode").toInt,
        strs(c.get("nodekeys")), rows("nodevalues").map(GraphNode),
        c.get("nodelinks").asScala.zipWithIndex.flatMap { case (out, i) =>
          out.asScala.map(l => GraphLink(i, l.get("node").asText.toInt,
            Option(l.get("description")).map(_.asText).getOrElse("")))
        }.toSeq)
      case cls => throw new IllegalArgumentException(
        s"'$key': no task answer is a $cls")
    }
  }

  /** Pivoted cube slice as a MultiDimGrid (`oph_json_multigrid.h:50-71`):
    * row axes = explicit dims, column axis = the implicit dim values of
    * the first row, measure matrix = the in-cell arrays (capped). */
  def multigridOf(objkey: String, title: String, cube: graft.cube.Cube,
      limit: Int = 50): MultiDimGrid = {
    require(cube.hasImplicit, "multigrid needs an implicit dim")
    val dim = cube.desc.implicitDims.head
    val rows = cube.df.limit(limit).collect().toSeq
    val dimIdx = cube.df.columns.indexOf(s"__dim_${dim.name}")
    val measureIdx = cube.df.columns.indexOf(cube.desc.measure)
    val expNames = cube.explicitDimNames
    val expIdx = expNames.map(cube.df.columns.indexOf(_))
    val colValues = rows.headOption.map(r =>
      r.getSeq[Any](dimIdx).map(v => Seq(v.toString))).getOrElse(Seq.empty)
    MultiDimGrid(objkey, title,
      rowKeys = expNames,
      rowFieldTypes = cube.desc.explicitDims.map(_.dataType),
      colKeys = Seq(dim.name),
      colFieldTypes = Seq(dim.dataType),
      colValues = colValues,
      measureName = cube.desc.measure,
      measureType = cube.desc.measureType,
      rowValues = rows.map(r => expIdx.map(i => cell(r.get(i)))),
      measureValues = rows.map(r =>
        r.getSeq[Any](measureIdx).map(_.toString)))
  }

  /** Provenance digraph object for oph_cubeio (`oph_json_objkeys.h:38`). */
  def cubeioDigraph(catalog: Catalog, cubeId: Long): GraphObj = {
    val edges = catalog.provenance(cubeId)
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val index = ids.zipWithIndex.toMap
    GraphObj("cubeio", s"Provenance of cube $cubeId", directed = true,
      nodeKeys = Seq("cube"),
      nodes = ids.map(i => GraphNode(Seq(
        catalog.cube(i).map(_.pid(catalog)).getOrElse(i.toString)))),
      links = edges.map(e =>
        GraphLink(index(e._1), index(e._2), "input")))
  }
}
