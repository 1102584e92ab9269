package graft.core

import graft.json._
import scala.collection.immutable.TreeMap

sealed abstract class Direction(val str: String)
object Direction {
  case object LTR extends Direction("ltr")
  case object RTL extends Direction("rtl")
  case object NoneDir extends Direction("@none")
}

/** Inline context object vs context IRI (/root/reference/src/lib.rs:39-43). */
sealed trait JsonOrRef
object JsonOrRef {
  final case class Obj(json: JObj) extends JsonOrRef
  final case class Ref(iri: String) extends JsonOrRef
}

/** /root/reference/src/lib.rs:103-121. `languageMapping: Option[Option[String]]`
  * distinguishes absent vs explicitly-null (@language: null).
  */
final case class TermDefinition(
    iri: Option[String] = None,
    prefix: Boolean = false,
    protectedTerm: Boolean = false,
    reverseProperty: Boolean = false,
    baseUrl: Option[Url] = None,
    context: Vector[Option[JsonOrRef]] = Vector.empty,
    containerMapping: Container = Container.none,
    directionMapping: Option[Direction] = None,
    indexMapping: Option[String] = None,
    languageMapping: Option[Option[String]] = None,
    nestValue: Option[String] = None,
    typeMapping: Option[String] = None
) {
  /** Structural equality sans `protected` (/root/reference/src/context.rs:550-569). */
  def sameExceptProtected(o: TermDefinition): Boolean =
    iri == o.iri && prefix == o.prefix && reverseProperty == o.reverseProperty &&
      baseUrl == o.baseUrl && context == o.context && containerMapping == o.containerMapping &&
      directionMapping == o.directionMapping && indexMapping == o.indexMapping &&
      languageMapping == o.languageMapping && nestValue == o.nestValue && typeMapping == o.typeMapping
}

object TermKeyOrdering extends Ordering[String] {
  /** Shortest-term-first, then lexicographic (/root/reference/src/lib.rs:126-131).
    * Silently determines compact-IRI candidate iteration and inverse-context
    * tie-breaks.
    */
  def compare(a: String, b: String): Int = {
    val c = java.lang.Integer.compare(a.length, b.length)
    if (c != 0) c else a.compareTo(b)
  }
}

sealed trait TypeOrLanguage
object TypeOrLanguage {
  case object Type extends TypeOrLanguage
  case object Language extends TypeOrLanguage
  case object Any extends TypeOrLanguage
}

/** Active context (/root/reference/src/lib.rs:154-187). Mutable only during
  * context processing; treated as immutable once returned. `cloneCtx` resets
  * the memoized inverse context (mirrors `inverse_context.take()` on clone,
  * /root/reference/src/context.rs:75-76).
  */
final class Context(
    var termDefinitions: TreeMap[String, TermDefinition] = TreeMap.empty(TermKeyOrdering),
    var baseIri: Option[Url] = None,
    var originalBaseUrl: Option[Url] = None,
    var vocabularyMapping: Option[String] = None,
    var defaultLanguage: Option[String] = None,
    var defaultBaseDirection: Option[Direction] = None,
    var previousContext: Option[Context] = None
) {
  @transient private var _inverse: ContextProcessor.InverseContext = null
  def inverseContext: ContextProcessor.InverseContext = {
    if (_inverse == null) _inverse = ContextProcessor.createInverseContext(this)
    _inverse
  }
  def cloneCtx(): Context =
    new Context(termDefinitions, baseIri, originalBaseUrl, vocabularyMapping,
      defaultLanguage, defaultBaseDirection, previousContext)
}

object Context {
  def default(): Context = new Context()
}

/** /root/reference/src/lib.rs:195-240 */
final case class JsonLdOptions(
    base: Option[String] = None,
    compactArrays: Boolean = true,
    compactToRelative: Boolean = true,
    expandContext: Option[JsonOrRef] = None,
    extractAllScripts: Boolean = false,
    frameExpansion: Boolean = false,
    ordered: Boolean = false,
    processingMode: ProcessingMode = ProcessingMode.JsonLd11,
    produceGeneralizedRdf: Boolean = true,
    rdfDirection: Option[String] = None,
    useNativeTypes: Boolean = false,
    useRdfType: Boolean = false
)

sealed trait ProcessingMode
object ProcessingMode {
  case object JsonLd11 extends ProcessingMode
  case object JsonLd10 extends ProcessingMode
}

/** /root/reference/src/lib.rs:67-74 */
final case class RemoteDocument(
    contentType: String,
    contextUrl: Option[String],
    document: JsonValue,
    documentUrl: String,
    profile: Option[String] = None
)

/** Document loader abstraction. In the Spark pipeline this is map-backed from
  * a broadcast of driver-resolved contexts — no per-row I/O (the reference's
  * own FrozenMap cache, /root/reference/src/lib.rs:254, is the single-process
  * version of this design).
  */
trait DocumentLoader extends Serializable {
  /** Load `iri`; throw JsonLdError(LoadingDocumentFailed) if unavailable. */
  def load(iri: String): RemoteDocument
}

object DocumentLoader {
  /** Offline map-backed loader: url -> raw JSON document text. */
  final class MapLoader(docs: Map[String, String]) extends DocumentLoader {
    def load(iri: String): RemoteDocument = docs.get(iri) match {
      case Some(body) =>
        RemoteDocument("application/ld+json", None, JsonParser.parse(body), iri)
      case None =>
        throw JsonLdError(ErrorCode.LoadingDocumentFailed, s"no vendored document for $iri")
    }
  }
  val empty: DocumentLoader = new MapLoader(Map.empty)
}

final case class LoadedContext(context: JObj, baseUrl: Url)

/** Per-API-call state (JsonLdOptionsImpl, /root/reference/src/lib.rs:248-268):
  * the remote-context cache shared across one call. In the pipeline one
  * instance is reused per partition (cache hits are the common case).
  */
final class ApiState(
    val options: JsonLdOptions,
    val loader: DocumentLoader,
    val loadedContexts: java.util.HashMap[String, LoadedContext] = new java.util.HashMap(),
    val processedContexts: ApiState.LruCache = new ApiState.LruCache(4096)
) {
  /** Same cache instances shared (reference MaybeOwned::Borrowed of the FrozenMap,
    * /root/reference/src/lib.rs:290, /root/reference/src/expand.rs:69).
    */
  def withOptions(o: JsonLdOptions): ApiState = new ApiState(o, loader, loadedContexts, processedContexts)
}

object ApiState {
  /** Bounded LRU for processed top-level contexts, keyed by full value +
    * base so semantics are unchanged (the reference caches only *loaded*
    * remote contexts, /root/reference/src/lib.rs:254). It does not hit in
    * the pipeline: the key holds the base, which `ExpandStage.withSpan` sets
    * per span, so no two spans share a key. Measured with one shared state
    * over 20,000 synthetic docs: 0 hits in 3,069 lookups.
    */
  final class LruCache(maxEntries: Int)
      extends java.util.LinkedHashMap[String, Context](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Context]): Boolean =
      size() > maxEntries
  }
}
