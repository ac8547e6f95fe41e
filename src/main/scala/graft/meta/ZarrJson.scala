package graft.meta

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.meta.Model._
import scala.jdk.CollectionConverters._

/** JSON (de)serialization of the OME-Zarr documents: root group attrs
  * for v0.4 (Zarr v2 `.zattrs`) and v0.5 (Zarr v3 `zarr.json` `ome`
  * key), omero rendering, and the Zarr group documents. Zarr array
  * documents are [[graft.zarr.ZarrArray]]'s.
  *
  * Layouts mirror the reference writers
  * (ngff-zarr `py/ngff_zarr/to_ngff_zarr.py:399-443`) and reader
  * back-compat (`py/ngff_zarr/from_ngff_zarr.py:89-305`): version
  * detection cascades `ome.version` → `multiscales[0].version` →
  * default 0.4.
  */
object ZarrJson {

  val mapper = new ObjectMapper()

  // ---- writing ----

  private def axisNode(a: Axis): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("name", a.name)
    n.put("type", a.`type`)
    a.unit.foreach(n.put("unit", _))
    a.orientation.foreach { o =>
      val on = n.putObject("orientation")
      on.put("type", o.`type`)
      on.put("value", o.value)
    }
    n
  }

  private def transformNode(t: Transform): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("type", t.`type`)
    t match {
      case ScaleT(s) =>
        val arr = n.putArray("scale"); s.foreach(arr.add)
      case TranslationT(tr) =>
        val arr = n.putArray("translation"); tr.foreach(arr.add)
      case IdentityT =>
    }
    n
  }

  private def multiscalesNode(m: MultiscalesMeta): ObjectNode = {
    val n = mapper.createObjectNode()
    val axes = n.putArray("axes")
    m.axes.foreach(a => axes.add(axisNode(a)))
    val ds = n.putArray("datasets")
    m.datasets.foreach { d =>
      val dn = ds.addObject()
      dn.put("path", d.path)
      val cts = dn.putArray("coordinateTransformations")
      d.coordinateTransformations.foreach(t => cts.add(transformNode(t)))
    }
    if (m.version == "0.4") n.put("version", m.version)
    m.name.foreach(n.put("name", _))
    m.`type`.foreach(n.put("type", _))
    m.metadata.foreach { md =>
      val mn = n.putObject("metadata")
      mn.put("description", md.description)
      mn.put("method", md.method)
      mn.put("version", md.version)
    }
    n
  }

  private def omeroNode(o: Omero): ObjectNode = {
    val n = mapper.createObjectNode()
    val chans = n.putArray("channels")
    o.channels.foreach { c =>
      val cn = chans.addObject()
      cn.put("color", c.color)
      val w = cn.putObject("window")
      w.put("min", c.window.min); w.put("max", c.window.max)
      w.put("start", c.window.start); w.put("end", c.window.end)
      c.label.foreach(cn.put("label", _))
    }
    n
  }

  /** Root group attrs for one multiscales entry. */
  def rootAttrs(m: MultiscalesMeta): ObjectNode = {
    val root = mapper.createObjectNode()
    if (m.version == "0.5") {
      val ome = root.putObject("ome")
      ome.put("version", "0.5")
      ome.putArray("multiscales").add(multiscalesNode(m))
      m.omero.foreach(o => ome.set[ObjectNode]("omero", omeroNode(o)))
    } else {
      root.putArray("multiscales").add(multiscalesNode(m))
      m.omero.foreach(o => root.set[ObjectNode]("omero", omeroNode(o)))
    }
    root
  }

  /** Zarr v2/v3 group document. */
  def groupDoc(zarrFormat: Int, attrs: Option[JsonNode] = None): ObjectNode = {
    val n = mapper.createObjectNode()
    if (zarrFormat == 3) {
      n.put("zarr_format", 3)
      n.put("node_type", "group")
      attrs.foreach(a => n.set[ObjectNode]("attributes", a))
    } else {
      n.put("zarr_format", 2)
    }
    n
  }

  /** A document as stored: indented, the layout every writer uses. */
  def pretty(n: JsonNode): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n)

  // ---- reading ----

  /** Version detection cascade (`from_ngff_zarr.py:92-96`). */
  def detectVersion(rootAttrs: JsonNode): String = {
    val ome = rootAttrs.path("ome")
    if (!ome.isMissingNode && ome.has("version")) ome.get("version").asText()
    else {
      val ms = multiscalesArray(rootAttrs)
      if (ms.size() > 0 && ms.get(0).has("version")) ms.get(0).get("version").asText()
      else "0.4"
    }
  }

  private def multiscalesArray(rootAttrs: JsonNode): ArrayNode = {
    val ome = rootAttrs.path("ome")
    val node = if (!ome.isMissingNode && ome.has("multiscales")) ome.get("multiscales")
      else rootAttrs.path("multiscales")
    node match {
      case a: ArrayNode => a
      case _ => mapper.createArrayNode()
    }
  }

  private def parseAxis(n: JsonNode): Axis =
    Axis(
      n.get("name").asText(),
      if (n.has("type")) n.get("type").asText() else axisType(n.get("name").asText()),
      Option(n.get("unit")).map(_.asText()),
      Option(n.get("orientation")).map(o =>
        AnatomicalOrientation(o.get("type").asText(), o.get("value").asText())))

  private def parseTransform(n: JsonNode): Transform = n.get("type").asText() match {
    case "scale" => ScaleT(n.get("scale").elements().asScala.map(_.asDouble()).toSeq)
    case "translation" => TranslationT(n.get("translation").elements().asScala.map(_.asDouble()).toSeq)
    case _ => IdentityT
  }

  /** Parse root attrs → MultiscalesMeta. Versions 0.1–0.3 lack an axes
    * list; axes are reconstructed from the fixed tczyx dims
    * (`from_ngff_zarr.py:106-111,159-179`).
    */
  def parseMultiscales(root: JsonNode): MultiscalesMeta = {
    val version = detectVersion(root)
    val ms = multiscalesArray(root)
    require(ms.size() > 0, "no multiscales metadata found")
    val m = ms.get(0)
    val axes: Seq[Axis] =
      if (m.has("axes") && m.get("axes").size() > 0 && m.get("axes").get(0).isObject)
        m.get("axes").elements().asScala.map(parseAxis).toSeq
      else if (m.has("axes")) // v0.3: axes is a list of name strings
        m.get("axes").elements().asScala.map(a => Axis(a.asText(), axisType(a.asText()))).toSeq
      else // v0.1/0.2: fixed tczyx
        Seq("t", "c", "z", "y", "x").map(d => Axis(d, axisType(d)))
    val datasets = m.get("datasets").elements().asScala.map { d =>
      val cts =
        if (d.has("coordinateTransformations"))
          d.get("coordinateTransformations").elements().asScala.map(parseTransform).toSeq
        else Seq(ScaleT(Seq.fill(axes.length)(1.0)))
      DatasetMeta(d.get("path").asText(), cts)
    }.toSeq
    val omeNode = root.path("ome")
    val omeroNode = if (!omeNode.isMissingNode && omeNode.has("omero")) omeNode.get("omero")
      else root.path("omero")
    val omero = if (omeroNode.isMissingNode || omeroNode.isNull) None else Some(parseOmero(omeroNode))
    MultiscalesMeta(
      axes, datasets, version,
      Option(m.get("name")).map(_.asText()),
      Option(m.get("type")).map(_.asText()),
      Option(m.get("metadata")).filter(_.has("method")).map(md => MethodMetadata(
        md.path("description").asText(""), md.get("method").asText(),
        md.path("version").asText(""))),
      omero)
  }

  /** V4 back-compat OMERO parse: window may carry min/max, start/end
    * or both; invalid channels are skipped.
    */
  private def parseOmero(n: JsonNode): Omero = {
    val channels = n.path("channels").elements().asScala.flatMap { c =>
      def d(w: JsonNode, k: String): Option[Double] =
        Option(w.get(k)).filter(v => v.isNumber || v.isTextual).map(_.asDouble())
      val w = c.path("window")
      val win = Validation.normalizeOmeroWindow(
        d(w, "min"), d(w, "max"), d(w, "start"), d(w, "end"))
      win.map(wn => OmeroChannel(c.path("color").asText("FFFFFF"), wn,
        Option(c.get("label")).map(_.asText())))
    }.toSeq
    Omero(channels)
  }

  // ---- array-document views for the benchmark's codec replay ----
  // `omezarr_bench` (ZarrReplay) reads array documents through these
  // names. Each is one `ZarrArray.parse`, so the rules live only there.

  private def array(json: String, zarrFormat: Int) = {
    val doc = mapper.readTree(json)
    (doc, graft.zarr.ZarrArray.parse(doc, zarrFormat, ""))
  }

  /** A v2 `.zarray`: (shape, chunks, dtype as written, compressor id,
    * dimension separator).
    */
  def parseZarrayV2(json: String): (Seq[Long], Seq[Int], String, Option[String], String) = {
    val (doc, a) = array(json, 2)
    (a.shape, a.gridChunks, doc.get("dtype").asText(), a.compressor, a.separator)
  }

  /** A v3 array `zarr.json`: (shape, chunk grid — the shard shape when
    * sharded, data type, per-chunk compressor, dimension names).
    */
  def parseZarrayV3(json: String): (Seq[Long], Seq[Int], String, Option[String], Seq[String]) = {
    val (doc, a) = array(json, 3)
    (a.shape, a.gridChunks, doc.get("data_type").asText(), a.compressor,
      doc.path("dimension_names").elements().asScala.map(_.asText()).toSeq)
  }

  /** A sharded v3 array's (inner chunk shape, inner compressor). */
  def parseShardingV3(json: String): Option[(Seq[Int], Option[String])] = {
    val a = array(json, 3)._2
    a.innerChunks.map(_ -> a.compressor)
  }

  /** A v3 array when sharded: its `compressor` is the inner chain's. */
  def parseShardingInnerV3(json: String): Option[graft.zarr.ZarrArray] =
    Some(array(json, 3)._2).filter(_.innerChunks.isDefined)
}
