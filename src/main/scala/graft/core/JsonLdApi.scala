package graft.core

import graft.json._
import ErrorCode._
import Util._
import scala.collection.mutable

sealed trait JsonLdInput
object JsonLdInput {
  final case class Doc(json: JsonValue) extends JsonLdInput
  final case class Ref(iri: String) extends JsonLdInput
  final case class Remote(doc: RemoteDocument) extends JsonLdInput
}

/** Public API — expand/compact drivers, port of /root/reference/src/lib.rs:270-468. */
object JsonLdApi {

  private def parseBase(iri: String): Url =
    Url.parse(iri).getOrElse(throw JsonLdError(InvalidBaseIRI, s"cannot parse $iri"))

  /** expand (/root/reference/src/lib.rs:368-468). Returns the expanded array. */
  def expand(input0: JsonLdInput, options: JsonLdOptions, loader: DocumentLoader = DocumentLoader.empty): JArr =
    expand(input0, new ApiState(options, loader))

  /** expand with a caller-managed ApiState — lets a partition-long state
    * amortize the loaded-context cache across documents. The processed-
    * context cache amortizes only calls that share a base; the pipeline's
    * spans never do (0 hits in 3,069 lookups).
    */
  def expand(input0: JsonLdInput, state: ApiState): JArr = {
    val options = state.options
    val input = input0 match {
      case JsonLdInput.Ref(iri) => JsonLdInput.Remote(state.loader.load(iri))
      case other => other
    }
    // HTML inputs are pre-extracted HERE, not in the Remote branch below:
    // a <base href> element must participate in the active context's base
    // IRI — the thing relative @ids resolve against (W3C HTML content
    // algorithms; the reference has no HTML path). The JSON-LD payload
    // lives in <script type="application/ld+json"> elements.
    val htmlPre: Option[(JsonValue, Url)] = input match {
      case JsonLdInput.Remote(doc)
          if doc.contentType == "text/html" || doc.contentType == "application/xhtml+xml" =>
        val htmlText = doc.document.asString.getOrElse(
          throw JsonLdError(LoadingDocumentFailed, "HTML document must be raw text"))
        val frag = {
          val h = doc.documentUrl.indexOf('#')
          if (h >= 0 && h + 1 < doc.documentUrl.length) Some(doc.documentUrl.substring(h + 1)) else None
        }
        val fromUrl = parseBase(doc.documentUrl)
        val base = HtmlScripts.baseHref(htmlText)
          .flatMap(href => Url.resolve(href, Some(fromUrl)))
          .getOrElse(fromUrl)
        Some((HtmlScripts.extract(htmlText, frag, options.extractAllScripts), base))
      case _ => None
    }
    // base and originalBase are usually the same string (options.base on a
    // Doc input — the per-span pipeline case); parse it once
    val baseStr = options.base match {
      case Some(b) => Some(b)
      case None => input match {
        case JsonLdInput.Remote(doc) => Some(htmlPre.fold(doc.documentUrl)(_._2.serialize))
        case _ => None
      }
    }
    val origStr = input match {
      case JsonLdInput.Remote(doc) => Some(htmlPre.fold(doc.documentUrl)(_._2.serialize))
      case _ => options.base
    }
    val baseParsed = baseStr.map(parseBase)
    var activeContext = new Context(
      baseIri = baseParsed,
      originalBaseUrl = if (origStr == baseStr) baseParsed else origStr.map(parseBase)
    )
    options.expandContext.foreach { expandContext =>
      val context = expandContext match {
        case JsonOrRef.Obj(json) =>
          json.get("@context") match {
            case Some(inner) => contextsFromJson(inner)
            case None => Vector(Some(JsonOrRef.Obj(json)))
          }
        case JsonOrRef.Ref(iri) => Vector(Some(JsonOrRef.Ref(iri)))
      }
      activeContext = ContextProcessor.processContext(activeContext, context,
        activeContext.originalBaseUrl, state, mutable.Set(),
        overrideProtected = false, propagate0 = true, validateScoped0 = true)
    }
    val expandedOutput = input match {
      case JsonLdInput.Remote(document) =>
        document.contextUrl.foreach { contextUrl =>
          activeContext = ContextProcessor.processContext(activeContext,
            Vector(Some(JsonOrRef.Ref(contextUrl))),
            Some(parseBase(contextUrl)), state, mutable.Set(),
            overrideProtected = false, propagate0 = true, validateScoped0 = true)
        }
        // htmlPre (above) already extracted HTML payloads and their
        // <base href>-adjusted base
        val (docJson, documentUrl) = htmlPre match {
          case Some((json, base)) => (json, base)
          case None => (document.document, parseBase(document.documentUrl))
        }
        Expansion.expandInternal(activeContext, None, docJson, Some(documentUrl), state, fromMap = false)
      case JsonLdInput.Doc(json) =>
        val documentUrl = options.base.map(parseBase)
        json match {
          case obj: JObj => Expansion.expandObject(activeContext, None, obj, documentUrl, state, fromMap = false)
          case other => Expansion.expandInternal(activeContext, None, other, documentUrl, state, fromMap = false)
        }
      case JsonLdInput.Ref(_) => throw new IllegalStateException("unreachable")
    }
    // output normalization (/root/reference/src/lib.rs:455-467)
    expandedOutput match {
      case obj: JObj if obj.size == 1 && obj.contains("@graph") =>
        obj.removeKey("@graph").get match {
          case a: JArr => a
          case JNull => new JArr()
          case other => JArr(other)
        }
      case a: JArr => a
      case JNull => new JArr()
      case other => JArr(other)
    }
  }

  /** compact (/root/reference/src/lib.rs:270-366). */
  def compact(
      input0: JsonLdInput,
      ctx: Option[JsonValue],
      options: JsonLdOptions,
      loader: DocumentLoader = DocumentLoader.empty
  ): JObj = {
    val state = new ApiState(options, loader)
    val (expandedInput, contextBase) = expandInput(input0, options, state)
    compactExpanded(expandedInput, ctx, contextBase, state)
  }

  /** flatten (W3C JSON-LD 1.1 API §6.3), filling the stub the reference
    * comments out (/root/reference/src/lib.rs:470-477): expand, run the
    * Flattening Algorithm, optionally compact against `ctx` with the same
    * output shaping as `compact`.
    */
  def flatten(
      input0: JsonLdInput,
      ctx: Option[JsonValue],
      options: JsonLdOptions,
      loader: DocumentLoader = DocumentLoader.empty
  ): JsonValue = {
    val state = new ApiState(options, loader)
    val (expandedInput, contextBase) = expandInput(input0, options, state)
    val flattened = Flatten.flattenExpanded(expandedInput)
    if (ctx.isEmpty) flattened else compactExpanded(flattened, ctx, contextBase, state)
  }

  /** fromRdf (W3C JSON-LD 1.1 API §8.2 Serialize RDF as JSON-LD), the
    * reference's sketched-but-stubbed inverse of toRdf
    * (/root/reference/src/lib.rs:483-489).
    */
  def fromRdf(dataset: Vector[Triple], options: JsonLdOptions = JsonLdOptions()): JArr =
    FromRdf.fromRdf(dataset, options)

  /** frame (W3C JSON-LD 1.1 Framing), the reference's remaining stub
    * (/root/reference/src/lib.rs:479-481): expand input, expand the frame
    * with frameExpansion, run the Framing Algorithm, compact against the
    * frame's own `@context`, then clean up `@preserve`/`@null`.
    */
  def frame(
      input0: JsonLdInput,
      frameDoc: JsonValue,
      options: JsonLdOptions,
      loader: DocumentLoader = DocumentLoader.empty
  ): JObj = {
    val state = new ApiState(options, loader)
    val (expandedInput, contextBase) = expandInput(input0, options.copy(frameExpansion = false), state)
    val expandedFrame = expand(JsonLdInput.Doc(frameDoc.deepCopy),
      state.withOptions(options.copy(ordered = false, frameExpansion = true)))
    val framed = Framing.frame(expandedInput, expandedFrame, options)
    val ctx: Option[JsonValue] =
      frameDoc.asObj.flatMap(_.get("@context")).map(c => JObj("@context" -> c.deepCopy))
    val compacted = compactExpanded(framed, ctx, contextBase, state)
    Framing.cleanup(compacted).asObj.get
  }

  /** The input prologue of compact, flatten and frame: load a `Ref` input
    * into a `Remote` one, expand it unordered under `options`, and derive
    * the context base — the document URL of a remote input, else
    * `options.base`.
    */
  private def expandInput(input0: JsonLdInput, options: JsonLdOptions, state: ApiState): (JArr, Option[Url]) = {
    val input = input0 match {
      case JsonLdInput.Ref(iri) => JsonLdInput.Remote(state.loader.load(iri))
      case other => other
    }
    val expanded = expand(input, state.withOptions(options.copy(ordered = false)))
    val contextBase = input match {
      case JsonLdInput.Remote(doc) => Some(parseBase(doc.documentUrl))
      case _ => options.base.map(parseBase)
    }
    (expanded, contextBase)
  }

  /** Compact a document that is ALREADY in expanded form, skipping the
    * internal re-expansion that [[compact]] performs on its input. For
    * callers that hold the expanded tree anyway (the corpus-scale
    * compact-roundtrip query expands once, compacts, re-expands), this
    * halves the expansion work. The input tree may be mutated — pass a
    * deepCopy when it is needed afterwards.
    *
    * Equivalent to [[compact]] for Doc-style inputs (pinned across every
    * positive compact fixture by W3CSuiteSpec). Caveat for REMOTE inputs:
    * [[compact]] derives the context base from the document URL; here the
    * caller must put that URL in `options.base` themselves — there is no
    * RemoteDocument to read it from.
    */
  def compactPreExpanded(
      expanded: JArr,
      ctx: Option[JsonValue],
      options: JsonLdOptions,
      loader: DocumentLoader = DocumentLoader.empty
  ): JObj = {
    val state = new ApiState(options, loader)
    compactExpanded(expanded, ctx, options.base.map(parseBase), state)
  }

  /** Shared tail of compact/flatten: compact an already-expanded input
    * against a supplied context and re-shape per /root/reference/src/lib.rs:305-364.
    */
  private def compactExpanded(
      expandedInput: JArr,
      ctx: Option[JsonValue],
      contextBase: Option[Url],
      state: ApiState
  ): JObj = {
    val options = state.options
    // If context is a map having an @context entry, use that entry's value
    val context: Vector[Option[JsonOrRef]] = ctx match {
      case None => Vector(None)
      case Some(c) =>
        val contexts = contextsFromJson(c, allowNull = false).map(_.get)
        if (contexts.size == 1) contexts.head match {
          case JsonOrRef.Obj(json) =>
            json.get("@context") match {
              case Some(inner) => contextsFromJson(inner)
              case None => Vector(Some(JsonOrRef.Obj(json)))
            }
          case r: JsonOrRef.Ref => Vector(Some(r))
        }
        else contexts.map(Some(_))
    }
    val activeContext = ContextProcessor.processContext(Context.default(), context, contextBase,
      state, mutable.Set(), overrideProtected = false, propagate0 = true, validateScoped0 = true)
    if (activeContext.baseIri.isEmpty)
      activeContext.baseIri = options.base.map(parseBase)
        .orElse(if (options.compactToRelative) contextBase else None)
    val compactedOutput0 = Compaction.compactInternal(activeContext, None, expandedInput, state)
    val compactedOutput = compactedOutput0 match {
      case o: JObj => o
      case a: JArr =>
        if (a.isEmpty) new JObj()
        else JObj(Compaction.compactIri(activeContext, "@graph", options, None, vocab = true, reverse = false) -> a)
      case _ => throw new IllegalStateException("unreachable compact output")
    }
    val nonTrivial = context.exists {
      case Some(JsonOrRef.Obj(json)) => json.nonEmpty
      case Some(JsonOrRef.Ref(_)) => true
      case None => false
    }
    if (nonTrivial) {
      val ctxArr = JArr.from(context.map[JsonValue] {
        case Some(JsonOrRef.Obj(json)) => json
        case Some(JsonOrRef.Ref(iri)) => JStr(iri)
        case None => JNull
      })
      compactedOutput.put("@context", if (ctxArr.size == 1) ctxArr(0) else ctxArr)
    }
    compactedOutput
  }
}
