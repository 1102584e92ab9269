package graft.core

import graft.json._
import scala.collection.mutable

/** One RDF statement. `graph` == "" means the default graph. `subj`/`pred`/
  * `graph` hold IRIs or `_:`-prefixed blank node ids; the object is split
  * into columnar-friendly fields (SURVEY.md §1.2 triple schema).
  */
final case class Triple(
    subj: String,
    pred: String,
    objKind: String, // "iri" | "bnode" | "literal"
    objValue: String,
    objDatatype: String, // "" for non-literals / langString implied
    objLang: String,
    graph: String
)

/** Deserialize JSON-LD to RDF (W3C JSON-LD 1.1 API §8.1 + node map
  * generation §7.1), the operation the reference declares but stubs
  * (/root/reference/src/lib.rs:483-489; its harness recognizes ToRDF tests at
  * /root/reference/tests/util/type_state.rs:33-34 but skips them,
  * /root/reference/tests/test.rs:230). Implemented from the public W3C spec.
  */
object ToRdf {
  val RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val XSD = "http://www.w3.org/2001/XMLSchema#"
  val RdfType: String = RDF + "type"
  val RdfFirst: String = RDF + "first"
  val RdfRest: String = RDF + "rest"
  val RdfNil: String = RDF + "nil"
  val RdfJson: String = RDF + "JSON"
  val XsdString: String = XSD + "string"
  val XsdBoolean: String = XSD + "boolean"
  val XsdInteger: String = XSD + "integer"
  val XsdDouble: String = XSD + "double"
  val LangString: String = RDF + "langString"

  final class BnodeGenerator {
    private var counter = 0
    private val mapping = mutable.Map[String, String]()
    def generate(identifier: Option[String]): String = identifier match {
      case Some(id) =>
        mapping.getOrElseUpdate(id, { val b = s"_:b$counter"; counter += 1; b })
      case None =>
        val b = s"_:b$counter"; counter += 1; b
    }
  }

  /** expanded JSON-LD → triples.
    *
    * CONSUMES `expanded`: node-map generation moves/strips entries (e.g.
    * `@id`) out of the input structure in place — the same move semantics
    * the reference gets from Rust ownership (its to_rdf takes the value).
    * Every engine call site discards the input afterwards (ExpandStage,
    * j06, the kgbench replay, the W3C harness); a caller that needs the
    * expanded document afterwards must pass `expanded.deepCopy.asArr.get`.
    * The cross-product compaction sweep in W3CSuiteSpec tripped on this.
    */
  def toRdf(expanded: JArr, options: JsonLdOptions): Vector[Triple] = {
    val gen = new BnodeGenerator
    val nodeMap = mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, JObj]]()
    nodeMap.getOrElseUpdate("@default", mutable.LinkedHashMap())
    generateNodeMap(expanded, nodeMap, gen, "@default", None, None, None)

    val out = mutable.ArrayBuffer[Triple]()
    val graphNames = nodeMap.keysIterator.toArray
    java.util.Arrays.sort(graphNames, java.util.Comparator.naturalOrder[String]())
    for (graphName <- graphNames; graph = nodeMap(graphName)) {
      if (graphName == "@default" || wellFormedId(graphName)) {
        val g = if (graphName == "@default") "" else graphName
        val subjects = graph.keysIterator.toArray
        java.util.Arrays.sort(subjects, java.util.Comparator.naturalOrder[String]())
        for (subject <- subjects; node = graph(subject)) {
          if (wellFormedId(subject)) {
            node.foreachEntry((property, values) => property match {
              case "@id" | "@index" =>
              case "@type" =>
                values.asArr.foreach(_.foreach { t =>
                  t.asString.foreach { ty =>
                    if (wellFormedId(ty))
                      out += Triple(subject, RdfType, kindOf(ty), ty, "", "", g)
                  }
                })
              case p if Iri.isKeyword(p) =>
              case p if p.startsWith("_:") && !options.produceGeneralizedRdf =>
              case p if !wellFormedId(p) =>
              case p =>
                values.asArr.foreach(_.foreach { item =>
                  item.asObj.foreach { io =>
                    if (io.contains("@list")) {
                      val (head, listTriples) = listToRdf(io.get("@list").get.asArr.get, gen, g, options, out)
                      out ++= listTriples
                      out += Triple(subject, p, kindOf(head), head, "", "", g)
                    } else {
                      objectToRdf(io, options, gen, g, out).foreach { o =>
                        out += Triple(subject, p, o._1, o._2, o._3, o._4, g)
                      }
                    }
                  }
                })
            })
          }
        }
      }
    }
    out.toVector
  }

  private def kindOf(term: String): String = if (term.startsWith("_:")) "bnode" else "iri"

  private def wellFormedId(s: String): Boolean = s.startsWith("_:") || Iri.isIri(s)

  /** returns (kind, value, datatype, lang) or None when not well-formed. */
  private def objectToRdf(
      item: JObj,
      options: JsonLdOptions,
      gen: BnodeGenerator,
      graph: String,
      out: mutable.ArrayBuffer[Triple]
  ): Option[(String, String, String, String)] = {
    item.get("@id") match {
      case Some(JStr(id)) if !item.contains("@value") =>
        if (wellFormedId(id)) Some((kindOf(id), id, "", "")) else None
      case _ if item.contains("@value") =>
        val value = item.get("@value").get
        var datatype = item.get("@type").flatMap(_.asString).orNull
        val language = item.get("@language").flatMap(_.asString)
        val direction = item.get("@direction").flatMap(_.asString)
        var lexical: String = null
        if (datatype == "@json") {
          lexical = canonicalJson(value)
          datatype = RdfJson
        } else value match {
          case JBool(b) =>
            lexical = if (b) "true" else "false"
            if (datatype == null) datatype = XsdBoolean
          case JNum(n) =>
            if (n % 1 != 0 || math.abs(n) >= 1e21 || datatype == XsdDouble) {
              lexical = canonicalDouble(n)
              if (datatype == null) datatype = XsdDouble
            } else {
              lexical = canonicalInteger(n)
              if (datatype == null) datatype = XsdInteger
            }
          case JStr(s) =>
            lexical = s
          case JNull => return None
          case other =>
            lexical = canonicalJson(other) // non-@json compound @value shouldn't survive expansion
        }
        (direction, options.rdfDirection) match {
          case (Some(dir), Some("i18n-datatype")) =>
            val dt = "https://www.w3.org/ns/i18n#" +
              language.map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse("") + "_" + dir
            Some(("literal", lexical, dt, ""))
          case (Some(dir), Some("compound-literal")) =>
            val b = gen.generate(None)
            out += Triple(b, RDF + "value", "literal", lexical, XsdString, "", graph)
            language.foreach(l =>
              out += Triple(b, RDF + "language", "literal", l.toLowerCase(java.util.Locale.ROOT), XsdString, "", graph))
            out += Triple(b, RDF + "direction", "literal", dir, XsdString, "", graph)
            Some(("bnode", b, "", ""))
          case _ =>
            language match {
              case Some(lang) => Some(("literal", lexical, LangString, lang.toLowerCase(java.util.Locale.ROOT)))
              case None =>
                if (datatype == null) datatype = XsdString
                Some(("literal", lexical, datatype, ""))
            }
        }
      case _ => None // e.g. frame wildcards
    }
  }

  /** List to RDF Conversion (§8.2): returns (head term, triples). */
  private def listToRdf(
      list: JArr,
      gen: BnodeGenerator,
      graph: String,
      options: JsonLdOptions,
      out: mutable.ArrayBuffer[Triple]
  ): (String, Vector[Triple]) = {
    if (list.isEmpty) return (RdfNil, Vector.empty)
    val bnodes = Vector.fill(list.size)(gen.generate(None))
    val triples = mutable.ArrayBuffer[Triple]()
    for ((item, i) <- list.iterator.zipWithIndex) {
      val subject = bnodes(i)
      item.asObj.foreach { io =>
        if (io.contains("@list")) {
          val (head, inner) = listToRdf(io.get("@list").get.asArr.get, gen, graph, options, out)
          triples ++= inner
          triples += Triple(subject, RdfFirst, kindOf(head), head, "", "", graph)
        } else {
          objectToRdf(io, options, gen, graph, out).foreach { o =>
            triples += Triple(subject, RdfFirst, o._1, o._2, o._3, o._4, graph)
          }
        }
      }
      val rest = if (i == list.size - 1) RdfNil else bnodes(i + 1)
      triples += Triple(subject, RdfRest, kindOf(rest), rest, "", "", graph)
    }
    (bnodes.head, triples.toVector)
  }

  /** Node Map Generation (W3C JSON-LD 1.1 API §7.1). */
  def generateNodeMap(
      element: JsonValue,
      nodeMap: mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, JObj]],
      gen: BnodeGenerator,
      activeGraph: String,
      activeSubject: Option[JsonValue], // JStr(id) or JObj (reverse reference)
      activeProperty: Option[String],
      list: Option[JArr]
  ): Unit = element match {
    case arr: JArr =>
      arr.foreach(item => generateNodeMap(item, nodeMap, gen, activeGraph, activeSubject, activeProperty, list))
    case obj: JObj =>
      val graph = nodeMap.getOrElseUpdate(activeGraph, mutable.LinkedHashMap())
      def subjectNode: Option[JObj] = activeSubject.flatMap(_.asString).flatMap(graph.get)
      // relabel blank-node @type entries
      obj.get("@type").foreach {
        case tarr: JArr =>
          val renamed = JArr.from(tarr.iterator.map {
            case JStr(t) if t.startsWith("_:") => JStr(gen.generate(Some(t)))
            case other => other
          })
          obj.put("@type", renamed)
        case JStr(t) if t.startsWith("_:") => obj.put("@type", JStr(gen.generate(Some(t))))
        case _ =>
      }
      if (obj.contains("@value")) {
        list match {
          case None =>
            for (sn <- subjectNode; ap <- activeProperty) {
              sn.get(ap) match {
                case Some(a: JArr) =>
                  if (!a.iterator.exists(v => JsonEq.jsonLdEq(v, obj))) a.push(obj)
                case _ => sn.put(ap, JArr(obj))
              }
            }
          case Some(l) => l.push(obj)
        }
      } else if (obj.contains("@list")) {
        val result = JObj("@list" -> new JArr())
        generateNodeMap(obj.get("@list").get, nodeMap, gen, activeGraph, activeSubject, activeProperty,
          Some(result.get("@list").get.asArr.get))
        list match {
          case None =>
            for (sn <- subjectNode; ap <- activeProperty) Util.addValue(sn, ap, result, asArray = true)
          case Some(l) => l.push(result)
        }
      } else {
        // node object
        val id = obj.removeKey("@id") match {
          case Some(JStr(i)) => if (i.startsWith("_:")) gen.generate(Some(i)) else i
          case Some(_) => gen.generate(None)
          case None => gen.generate(None)
        }
        val node = graph.getOrElseUpdate(id, JObj("@id" -> JStr(id)))
        activeSubject match {
          case Some(subjObj: JObj) =>
            // reverse: active subject is a node reference to be added under property
            for (ap <- activeProperty) {
              node.get(ap) match {
                case Some(a: JArr) =>
                  if (!a.iterator.exists(v => JsonEq.jsonLdEq(v, subjObj))) a.push(subjObj.deepCopy)
                case _ => node.put(ap, JArr(subjObj.deepCopy))
              }
            }
          case _ =>
            for (ap <- activeProperty) {
              val reference = JObj("@id" -> JStr(id))
              list match {
                case None =>
                  for (sn <- subjectNode) {
                    sn.get(ap) match {
                      case Some(a: JArr) =>
                        if (!a.iterator.exists(v => JsonEq.jsonLdEq(v, reference))) a.push(reference)
                      case _ => sn.put(ap, JArr(reference))
                    }
                  }
                case Some(l) => l.push(reference)
              }
            }
        }
        obj.removeKey("@type").foreach { types =>
          val existing = node.get("@type") match {
            case Some(a: JArr) => a
            case _ => val a = new JArr(); node.put("@type", a); a
          }
          types.asArr.foreach(_.foreach { t =>
            if (!existing.iterator.exists(_ == t)) existing.push(t)
          })
        }
        obj.removeKey("@index").foreach(idx => node.put("@index", idx))
        obj.removeKey("@reverse").foreach { rev =>
          val referencedNode = JObj("@id" -> JStr(id))
          rev.asObj.foreach(_.foreachEntry { (property, values) =>
            values.asArr.foreach(_.foreach { value =>
              generateNodeMap(value, nodeMap, gen, activeGraph, Some(referencedNode), Some(property), None)
            })
          })
        }
        obj.removeKey("@graph").foreach { g =>
          generateNodeMap(g, nodeMap, gen, id, None, None, None)
        }
        obj.removeKey("@included").foreach { inc =>
          generateNodeMap(inc, nodeMap, gen, activeGraph, None, None, None)
        }
        val subjRef = Some(JStr(id))
        obj.foreachSorted { (property0, value) =>
          val property = if (property0.startsWith("_:")) gen.generate(Some(property0)) else property0
          if (!node.contains(property)) node.put(property, new JArr())
          generateNodeMap(value, nodeMap, gen, activeGraph, subjRef, Some(property), None)
        }
      }
    case _ => // scalars shouldn't appear at node-map level in expanded docs
  }

  /** Canonical lexical form of xsd:double matching common JSON-LD processor
    * output ("1.1E0" style, value.toExponential-equivalent).
    */
  def canonicalDouble(n: Double): String = {
    if (n == 0.0) return if (1 / n < 0) "-0.0E0" else "0.0E0"
    if (n.isNaN) return "NaN"
    if (n.isInfinite) return if (n > 0) "INF" else "-INF"
    val s = String.format(java.util.Locale.ROOT, "%.15E", Double.box(n))
    val Array(mant0, exp0) = s.split("E")
    var mant = mant0
    if (mant.contains('.')) {
      mant = mant.reverse.dropWhile(_ == '0').reverse
      // canonical xsd:double keeps one digit after the point: 1e21 must
      // serialize as "1.0E21", not "1E21" (caught by fixture r0030)
      if (mant.endsWith(".")) mant = mant + "0"
    }
    val exp = exp0.toInt
    s"${mant}E$exp"
  }

  def canonicalInteger(n: Double): String = {
    if (math.abs(n) < 9.007199254740992e15) n.toLong.toString
    else new java.math.BigDecimal(n).toBigInteger.toString
  }

  /** RFC 8785 (JCS) number serialization = ECMAScript Number::toString
    * (ECMA-262 §7.1.12.1). Differs from BOTH Java's Double.toString and the
    * canonical xsd:double form: decimal notation through 10^21
    * (1e16 → "10000000000000000"), exponent form "d.ddde±k" beyond
    * (1e22 → "1e+22", never "1.0E22"), no trailing ".0". Digits must be the
    * SHORTEST round-tripping decimal; Java 17's Double.toString is not
    * shortest (pre-Ryū, JDK-4511638: 2.5e22 → "2.4999999999999998E22"), so
    * the digits are found directly: the smallest precision p whose
    * half-even rounding of the exact binary value reads back as the same
    * double. 17 digits always suffice, so the loop terminates.
    */
  def jcsNumber(n: Double): String = {
    if (n == 0.0) return "0" // ToString(-0) is "0" too
    val neg = n < 0
    val abs = math.abs(n)
    val exact = new java.math.BigDecimal(abs)
    var bd: java.math.BigDecimal = null
    var p = 1
    while (bd == null) {
      val cand = exact.round(new java.math.MathContext(p, java.math.RoundingMode.HALF_EVEN))
      if (cand.doubleValue() == abs || p == 17) bd = cand else p += 1
    }
    val unscaled = bd.unscaledValue.toString
    val digits = {
      val t = unscaled.reverse.dropWhile(_ == '0').reverse
      if (t.isEmpty) "0" else t
    }
    val k = digits.length
    val nExp = unscaled.length - bd.scale // digit count before the decimal point
    val sb = new StringBuilder(if (neg) "-" else "")
    if (k <= nExp && nExp <= 21) { sb.append(digits); (k until nExp).foreach(_ => sb.append('0')) }
    else if (0 < nExp && nExp <= 21) sb.append(digits.substring(0, nExp)).append('.').append(digits.substring(nExp))
    else if (-6 < nExp && nExp <= 0) { sb.append("0."); (nExp until 0).foreach(_ => sb.append('0')); sb.append(digits) }
    else {
      sb.append(digits.charAt(0))
      if (k > 1) sb.append('.').append(digits.substring(1))
      sb.append('e').append(if (nExp - 1 >= 0) "+" else "-").append(math.abs(nExp - 1))
    }
    sb.toString
  }

  /** Canonical JSON for rdf:JSON literals (JCS / RFC 8785: sorted keys,
    * minimal separators, ECMAScript numbers).
    */
  def canonicalJson(v: JsonValue): String = v match {
    case JNull => "null"
    case JBool(b) => if (b) "true" else "false"
    case JNum(n) =>
      if (n.isWhole && math.abs(n) < 9.007199254740992e15) n.toLong.toString
      else jcsNumber(n)
    case JStr(s) => quoteJsonString(s)
    case a: JArr => a.iterator.map(canonicalJson).mkString("[", ",", "]")
    case o: JObj =>
      o.sortedEntries.map { case (k, x) => quoteJsonString(k) + ":" + canonicalJson(x) }
        .mkString("{", ",", "}")
  }

  private def quoteJsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
