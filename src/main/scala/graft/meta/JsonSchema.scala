package graft.meta

import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

/** JSON-Schema Draft 2020-12 validator covering the keyword set the
  * vendored OME-NGFF schemas use (V1 — reference
  * `py/ngff_zarr/validate.py:13-52` validates against these same
  * packaged schema files with `jsonschema.Draft202012Validator`):
  * type/enum/const, properties/required/additionalProperties,
  * items/minItems/maxItems/uniqueItems, contains/minContains/
  * maxContains, allOf/anyOf/oneOf/not, $ref (fragment pointers and
  * the `https://ngff.openmicroscopy.org/...` cross-document URIs,
  * resolved against the vendored resources), minimum/maximum/
  * exclusiveMinimum, pattern.
  *
  * No third-party validator resolves in this offline environment, so
  * the engine is purpose-written; it is driven entirely by the
  * unmodified upstream schema documents under
  * `src/main/resources/graft/spec/`, not hand-transcribed rules.
  */
object JsonSchema {

  import Validation.ValidationError

  private val mapper = ZarrJson.mapper

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, JsonNode]()

  /** Load a vendored schema: version "0.1".."0.5", model like "image",
    * "plate", "well", and for 0.4/0.5 also "label"/"bf2raw"/"ome";
    * `strict = true` selects the `strict_<model>.schema` variant.
    */
  def loadSchema(version: String, model: String = "image", strict: Boolean = false): JsonNode = {
    val prefix = if (strict) "strict_" else ""
    loadResource(s"/graft/spec/$version/schemas/$prefix$model.schema")
  }

  /** RFC 4 anatomical-orientation axes schema. */
  def loadRfc4Schema(): JsonNode = loadResource("/graft/spec/rfc/4/orientation.schema.json")

  private def loadResource(path: String): JsonNode =
    cache.computeIfAbsent(path, { p =>
      val in = getClass.getResourceAsStream(p)
      if (in == null) throw new IllegalArgumentException(s"schema resource not found: $p")
      try mapper.readTree(in) finally in.close()
    })

  /** Cross-document $ref targets: the NGFF URIs map 1:1 onto the
    * vendored resource tree.
    */
  private def resolveUri(uri: String): JsonNode = {
    val NgffRef = "https://ngff\\.openmicroscopy\\.org/([0-9.]+)/schemas/([A-Za-z0-9_.]+)".r
    uri match {
      case NgffRef(version, file) => loadResource(s"/graft/spec/$version/schemas/$file")
      case other => throw new IllegalArgumentException(s"unresolvable \\$$ref URI: $other")
    }
  }

  /** Validate `doc` against `schema`; empty result means valid. */
  def validate(schema: JsonNode, doc: JsonNode): Seq[ValidationError] =
    check(doc, schema, schema, "")

  // `root` is the document the current (sub)schema lives in — fragment
  // $refs resolve against it, and it switches on cross-document refs.
  private def check(node: JsonNode, schema: JsonNode, root: JsonNode,
      path: String): Seq[ValidationError] = {
    if (schema.isBoolean)
      return if (schema.asBoolean()) Nil
        else Seq(ValidationError(path, "schema 'false' permits nothing"))
    val errs = Seq.newBuilder[ValidationError]
    def at(p: String) = if (p.isEmpty) "/" else p

    Option(schema.get("$ref")).foreach { r =>
      val uri = r.asText()
      val (targetRoot, fragment) =
        if (uri.startsWith("#")) (root, uri.drop(1))
        else {
          val hash = uri.indexOf('#')
          if (hash < 0) (resolveUri(uri), "")
          else (resolveUri(uri.substring(0, hash)), uri.substring(hash + 1))
        }
      val target =
        if (fragment.isEmpty) targetRoot
        else fragment.split('/').filter(_.nonEmpty).foldLeft(targetRoot) { (n, seg) =>
          val key = seg.replace("~1", "/").replace("~0", "~")
          val next = if (n.isArray) n.get(key.toInt) else n.get(key)
          if (next == null)
            throw new IllegalArgumentException(s"\\$$ref fragment not found: $uri at '$key'")
          next
        }
      errs ++= check(node, target, targetRoot, path)
    }

    Option(schema.get("type")).foreach { t =>
      val allowed = if (t.isArray) t.elements().asScala.map(_.asText()).toSeq else Seq(t.asText())
      if (!allowed.exists(matchesType(node, _)))
        errs += ValidationError(at(path),
          s"expected type ${allowed.mkString("/")}, got ${typeName(node)}")
    }
    Option(schema.get("enum")).foreach { e =>
      if (!e.elements().asScala.contains(node))
        errs += ValidationError(at(path), s"value $node not in enum $e")
    }
    Option(schema.get("const")).foreach { c =>
      if (c != node) errs += ValidationError(at(path), s"value $node != const $c")
    }
    Option(schema.get("pattern")).foreach { p =>
      if (node.isTextual &&
          !java.util.regex.Pattern.compile(p.asText()).matcher(node.asText()).find())
        errs += ValidationError(at(path), s"'${node.asText()}' does not match pattern ${p.asText()}")
    }

    if (node.isNumber) {
      Option(schema.get("minimum")).foreach { m =>
        if (node.decimalValue().compareTo(m.decimalValue()) < 0)
          errs += ValidationError(at(path), s"${node.asText()} < minimum ${m.asText()}")
      }
      Option(schema.get("maximum")).foreach { m =>
        if (node.decimalValue().compareTo(m.decimalValue()) > 0)
          errs += ValidationError(at(path), s"${node.asText()} > maximum ${m.asText()}")
      }
      Option(schema.get("exclusiveMinimum")).foreach { m =>
        if (node.decimalValue().compareTo(m.decimalValue()) <= 0)
          errs += ValidationError(at(path), s"${node.asText()} <= exclusiveMinimum ${m.asText()}")
      }
    }

    if (node.isObject) {
      val props = Option(schema.get("properties"))
      props.foreach { ps =>
        ps.properties().asScala.foreach { e =>
          val child = node.get(e.getKey)
          if (child != null) errs ++= check(child, e.getValue, root, s"$path/${e.getKey}")
        }
      }
      Option(schema.get("required")).foreach { r =>
        r.elements().asScala.foreach { req =>
          if (!node.has(req.asText()))
            errs += ValidationError(at(path), s"missing required property '${req.asText()}'")
        }
      }
      Option(schema.get("additionalProperties")).foreach { ap =>
        val declared = props.map(_.fieldNames().asScala.toSet).getOrElse(Set.empty[String])
        node.properties().asScala.filterNot(e => declared(e.getKey)).foreach { e =>
          if (ap.isBoolean && !ap.asBoolean())
            errs += ValidationError(at(path), s"additional property '${e.getKey}' not allowed")
          else if (!ap.isBoolean)
            errs ++= check(e.getValue, ap, root, s"$path/${e.getKey}")
        }
      }
    }

    if (node.isArray) {
      val items = node.elements().asScala.toSeq
      Option(schema.get("items")).foreach { is =>
        items.zipWithIndex.foreach { case (it, i) =>
          errs ++= check(it, is, root, s"$path/$i")
        }
      }
      Option(schema.get("minItems")).foreach { m =>
        if (items.length < m.asInt())
          errs += ValidationError(at(path), s"array has ${items.length} items, minItems ${m.asInt()}")
      }
      Option(schema.get("maxItems")).foreach { m =>
        if (items.length > m.asInt())
          errs += ValidationError(at(path), s"array has ${items.length} items, maxItems ${m.asInt()}")
      }
      Option(schema.get("uniqueItems")).foreach { u =>
        if (u.asBoolean() && items.distinct.length != items.length)
          errs += ValidationError(at(path), "array items are not unique")
      }
      Option(schema.get("contains")).foreach { c =>
        val n = items.count(it => check(it, c, root, path).isEmpty)
        val minC = Option(schema.get("minContains")).map(_.asInt()).getOrElse(1)
        val maxC = Option(schema.get("maxContains")).map(_.asInt()).getOrElse(Int.MaxValue)
        if (n < minC)
          errs += ValidationError(at(path), s"$n items match 'contains', minContains $minC")
        if (n > maxC)
          errs += ValidationError(at(path), s"$n items match 'contains', maxContains $maxC")
      }
    }

    Option(schema.get("allOf")).foreach { as =>
      as.elements().asScala.foreach(s => errs ++= check(node, s, root, path))
    }
    Option(schema.get("anyOf")).foreach { as =>
      val subs = as.elements().asScala.toSeq
      if (!subs.exists(s => check(node, s, root, path).isEmpty))
        errs += ValidationError(at(path), s"value matches none of the ${subs.length} anyOf schemas")
    }
    Option(schema.get("oneOf")).foreach { os =>
      val subs = os.elements().asScala.toSeq
      val n = subs.count(s => check(node, s, root, path).isEmpty)
      if (n != 1)
        errs += ValidationError(at(path), s"value matches $n of ${subs.length} oneOf schemas (need exactly 1)")
    }
    Option(schema.get("not")).foreach { s =>
      if (check(node, s, root, path).isEmpty)
        errs += ValidationError(at(path), "value matches schema under 'not'")
    }

    errs.result()
  }

  private def matchesType(node: JsonNode, t: String): Boolean = t match {
    case "object" => node.isObject
    case "array" => node.isArray
    case "string" => node.isTextual
    case "number" => node.isNumber
    case "integer" => node.isIntegralNumber ||
      (node.isNumber && node.decimalValue().stripTrailingZeros().scale() <= 0)
    case "boolean" => node.isBoolean
    case "null" => node.isNull
    case _ => false
  }

  private def typeName(node: JsonNode): String =
    if (node.isObject) "object" else if (node.isArray) "array"
    else if (node.isTextual) "string" else if (node.isNumber) "number"
    else if (node.isBoolean) "boolean" else if (node.isNull) "null" else "unknown"
}
