package graft.core

/** URL parsing/resolution mirroring the behavior the reference gets from the
  * Rust `url` crate (WHATWG URL): absolute-only parse, scheme/host lowering,
  * default-port dropping, dot-segment removal, special-scheme "/" path.
  * Reference call sites: `resolve` (/root/reference/src/util.rs:28-30),
  * `is_iri` = parse success (/root/reference/src/util.rs:32-34),
  * `make_relative` (/root/reference/src/compact.rs:700-702).
  *
  * Scope: the subset of WHATWG behavior exercised by JSON-LD documents —
  * full percent-encode/IDN handling intentionally out of scope.
  */
final case class Url(
    scheme: String,
    authority: Option[String], // host[:port], already normalized
    path: String,
    query: Option[String],
    fragment: Option[String]
) {
  def serialize: String = {
    val sb = new StringBuilder(scheme).append(':')
    authority.foreach(a => sb.append("//").append(a))
    sb.append(path)
    query.foreach(q => sb.append('?').append(q))
    fragment.foreach(f => sb.append('#').append(f))
    sb.toString
  }
  override def toString: String = serialize

  /** Path with the last segment replaced by "" (url crate
    * path_segments_mut().pop().push("")), used for same-URL relativization.
    */
  def withDirPath: Url = {
    val i = path.lastIndexOf('/')
    if (i < 0) this else copy(path = path.substring(0, i + 1), query = None, fragment = None)
  }

  /** Port of url crate `Url::make_relative`. */
  def makeRelative(target: Url): Option[String] = {
    if (authority.isEmpty && !path.startsWith("/")) return None // cannot-be-a-base
    if (scheme != target.scheme || authority != target.authority) return None
    def split(p: String): (String, String) = {
      val i = p.lastIndexOf('/')
      if (i < 0) ("", p) else (p.substring(0, i), p.substring(i + 1))
    }
    val (basePath, baseFile) = split(path)
    val (tgtPath, tgtFile) = split(target.path)
    // Rust `"".split('/')` yields one empty segment, not zero — the leading
    // "" segments of both sides must cancel in the common-prefix loop, else
    // "http://h/a" relative to "http://h/t/f" renders "a" instead of "../a".
    val baseSegs = collection.mutable.Queue.from(basePath.split("/", -1).toSeq)
    val tgtSegs = collection.mutable.Queue.from(tgtPath.split("/", -1).toSeq)
    while (baseSegs.nonEmpty && tgtSegs.nonEmpty && baseSegs.head == tgtSegs.head) { baseSegs.dequeue(); tgtSegs.dequeue() }
    val rel = new StringBuilder
    var stop = false
    for (s <- baseSegs if !stop) {
      if (s.isEmpty) stop = true
      else { if (rel.nonEmpty) rel.append('/'); rel.append("..") }
    }
    for (s <- tgtSegs) { if (rel.nonEmpty) rel.append('/'); rel.append(s) }
    if (rel.nonEmpty || baseFile != tgtFile) {
      if (rel.nonEmpty) rel.append('/')
      rel.append(tgtFile)
    }
    target.query.foreach(q => rel.append('?').append(q))
    target.fragment.foreach(f => rel.append('#').append(f))
    Some(rel.toString)
  }
}

object Url {
  val specialSchemes: Map[String, Option[String]] = Map(
    "http" -> Some("80"), "https" -> Some("443"), "ws" -> Some("80"),
    "wss" -> Some("443"), "ftp" -> Some("21"), "file" -> None)

  private def validScheme(s: String): Boolean =
    s.nonEmpty && s.charAt(0).isLetter && s.forall(c => c.isLetterOrDigit || c == '+' || c == '-' || c == '.')

  /** Parse an absolute URL. Returns None on failure (≈ url crate parse Err). */
  def parse(input: String): Option[Url] = {
    val fast = fastParse(input)
    if (fast != null) return Some(fast)
    parseGeneral(input)
  }

  /** One scan of the dominant IRI shape
    * `scheme://lowerhost/path[?query][#fragment]`: all-lowercase letter
    * scheme, host limited to `[a-z0-9.-]`, path free of `'.'` (⇒ no dot
    * segments). There the general parser is provably the identity
    * normalization. Returns -1 for anything else, else the host's end in
    * the high 32 bits and the path's end (the first `?` or `#`, or the
    * length) in the low 32. Allocates nothing. This exists because per-span
    * subject IRIs are unique, so the isIri memo never hits on them and the
    * full WHATWG-style parse was the largest engine CPU cluster in JFR.
    */
  private def fastScan(s: String): Long = {
    val n = s.length
    if (n < 8) return -1 // shortest: "x://h/"-ish; below that let the general path decide
    if (s.charAt(0) <= ' ' || s.charAt(n - 1) <= ' ') return -1 // trim territory
    var i = 0
    while (i < n && { val c = s.charAt(i); c >= 'a' && c <= 'z' }) i += 1
    if (i == 0 || i + 3 >= n || s.charAt(i) != ':' || s.charAt(i + 1) != '/' || s.charAt(i + 2) != '/') return -1
    val hostStart = i + 3
    var j = hostStart
    while (j < n && { val c = s.charAt(j); (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '.' || c == '-' }) j += 1
    if (j == hostStart) return -1 // empty/unusual host
    if (j < n) { val c = s.charAt(j); if (c != '/' && c != '?' && c != '#') return -1 }
    var k = j
    while (k < n && { val c = s.charAt(k); c != '?' && c != '#' }) {
      if (s.charAt(k) == '.') return -1
      k += 1
    }
    (j.toLong << 32) | k
  }

  /** True ⇔ `fastParse` would accept. Well-formedness checks (isIri) only
    * need the verdict — building and discarding the Url (4 substrings +
    * case class) per unique subject IRI was a measured JFR site.
    */
  private[core] def fastValid(s: String): Boolean = fastScan(s) >= 0

  /** The full parse path, bypassing fastParse — exposed so tests can assert
    * fastParse ≡ parseGeneral on every input shape.
    */
  private[core] def parseGeneral(input: String): Option[Url] = {
    val s = input.trim
    val ci = s.indexOf(':')
    if (ci <= 0) return None
    val rawScheme = s.substring(0, ci)
    if (!validScheme(rawScheme)) return None
    val scheme = rawScheme.toLowerCase
    val rest = s.substring(ci + 1)
    parseAfterScheme(scheme, rest)
  }

  /** The Url of an input [[fastScan]] accepts, null for any other; the
    * caller falls back. Every accepted input yields field-for-field what
    * `parseAfterScheme` would (PropertySpec cross-checks).
    */
  private def fastParse(s: String): Url = {
    val pos = fastScan(s)
    if (pos < 0) return null
    val hostEnd = (pos >>> 32).toInt
    val pathEnd = pos.toInt
    val schemeEnd = s.indexOf(':')
    val n = s.length
    var query: String = null
    var fragment: String = null
    var f = pathEnd
    if (f < n && s.charAt(f) == '?') {
      f = s.indexOf('#', f + 1)
      if (f < 0) f = n
      query = s.substring(pathEnd + 1, f)
    }
    if (f < n) fragment = s.substring(f + 1)
    Url(s.substring(0, schemeEnd), Some(s.substring(schemeEnd + 3, hostEnd)),
      if (pathEnd == hostEnd) "/" else s.substring(hostEnd, pathEnd), Option(query), Option(fragment))
  }

  private def parseAfterScheme(scheme: String, rest0: String): Option[Url] = {
    var rest = rest0
    var fragment: Option[String] = None
    val fi = rest.indexOf('#')
    if (fi >= 0) { fragment = Some(rest.substring(fi + 1)); rest = rest.substring(0, fi) }
    var query: Option[String] = None
    val qi = rest.indexOf('?')
    if (qi >= 0) { query = Some(rest.substring(qi + 1)); rest = rest.substring(0, qi) }

    val special = specialSchemes.contains(scheme)
    if (rest.startsWith("//")) {
      val after = rest.substring(2)
      val pi = after.indexOf('/')
      val (auth0, path0) = if (pi >= 0) (after.substring(0, pi), after.substring(pi)) else (after, "")
      if (special && scheme != "file" && auth0.isEmpty) return None // empty host
      if (auth0.exists(c => c == ' ' || c == '\\' || c == '<' || c == '>')) return None
      val auth = normalizeAuthority(scheme, auth0).getOrElse(return None)
      val path = if (path0.isEmpty && (special || auth0.nonEmpty)) "/" else removeDotSegments(path0)
      Some(Url(scheme, Some(auth), path, query, fragment))
    } else if (special) {
      // WHATWG: special schemes always get an authority; "http:foo" treated as host-less → error unless base... keep simple: reject
      None
    } else {
      // opaque / path-only URL ("ex:foo", "urn:x:y", "mailto:a@b")
      val path = if (rest.startsWith("/")) removeDotSegments(rest) else rest
      Some(Url(scheme, None, path, query, fragment))
    }
  }

  // the overwhelmingly common authority is a bare lowercase host — detect it
  // in one scan and skip the userinfo/port/case machinery (and its substring
  // allocations; JFR had normalizeAuthority among the top byte[] sites)
  private def plainLowerHost(a: String): Boolean = {
    var i = 0
    val n = a.length
    while (i < n) {
      val c = a.charAt(i)
      if (c == '@' || c == '[' || c == ':' || (c >= 'A' && c <= 'Z')) return false
      i += 1
    }
    true
  }

  private def normalizeAuthority(scheme: String, auth0: String): Option[String] = {
    if (plainLowerHost(auth0)) return Some(auth0)
    // strip userinfo (rare in our corpus; keep as-is before '@')
    val (userinfo, hp) = {
      val at = auth0.lastIndexOf('@')
      if (at >= 0) (Some(auth0.substring(0, at)), auth0.substring(at + 1)) else (None, auth0)
    }
    val (host, port) =
      if (hp.startsWith("[")) {
        val e = hp.indexOf(']')
        if (e < 0) return None
        val h = hp.substring(0, e + 1)
        val p = hp.substring(e + 1)
        if (p.startsWith(":")) (h, Some(p.substring(1))) else if (p.isEmpty) (h, None) else return None
      } else {
        val i = hp.lastIndexOf(':')
        if (i >= 0) (hp.substring(0, i), Some(hp.substring(i + 1))) else (hp, None)
      }
    val normHost = host.toLowerCase
    val normPort = port match {
      case Some(p) =>
        if (p.isEmpty) None
        else if (!p.forall(_.isDigit)) return None
        else {
          val n = try p.toInt catch { case _: Exception => return None }
          if (n > 65535) return None
          if (specialSchemes.get(scheme).flatten.contains(n.toString)) None else Some(n.toString)
        }
      case None => None
    }
    Some(userinfo.map(_ + "@").getOrElse("") + normHost + normPort.map(":" + _).getOrElse(""))
  }

  /** RFC 3986 §5.2.4. */
  def removeDotSegments(path: String): String = {
    if (path.isEmpty) return path
    // no '.' anywhere ⇒ no dot segments ⇒ identity (the common case; the
    // general loop below allocates a substring per segment)
    if (path.indexOf('.') < 0) return path
    val out = new collection.mutable.ArrayBuffer[String]()
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) { in = "/" + in.substring(4); if (out.nonEmpty) out.remove(out.size - 1) }
      else if (in == "/..") { in = "/"; if (out.nonEmpty) out.remove(out.size - 1) }
      else if (in == "." || in == "..") in = ""
      else {
        val start = if (in.startsWith("/")) 1 else 0
        val i = in.indexOf('/', start)
        if (i < 0) { out += in; in = "" } else { out += in.substring(0, i); in = in.substring(i) }
      }
    }
    out.mkString
  }

  /** RFC 3986 §5 reference resolution (url crate Url::options().base_url(base).parse(r)). */
  def resolve(ref: String, base: Option[Url]): Option[Url] = {
    parse(ref).orElse {
      base.flatMap { b =>
        if (b.authority.isEmpty && !b.path.startsWith("/") && !ref.startsWith("#")) None // cannot-be-a-base
        else Some(resolveRelative(ref, b))
      }
    }
  }

  private def resolveRelative(ref0: String, base: Url): Url = {
    var ref = ref0
    var fragment: Option[String] = None
    val fi = ref.indexOf('#')
    if (fi >= 0) { fragment = Some(ref.substring(fi + 1)); ref = ref.substring(0, fi) }
    var query: Option[String] = None
    val qi = ref.indexOf('?')
    if (qi >= 0) { query = Some(ref.substring(qi + 1)); ref = ref.substring(0, qi) }

    if (ref.startsWith("//")) {
      // network-path reference
      parseAfterScheme(base.scheme, ref + query.map("?" + _).getOrElse("") + fragment.map("#" + _).getOrElse(""))
        .getOrElse(Url(base.scheme, Some(ref.substring(2)), "/", query, fragment))
    } else if (ref.isEmpty) {
      if (query.isDefined) base.copy(query = query, fragment = fragment)
      else if (fragment.isDefined) base.copy(fragment = fragment)
      else base.copy(fragment = None)
    } else if (ref.startsWith("/")) {
      base.copy(path = removeDotSegments(ref), query = query, fragment = fragment)
    } else {
      // merge paths
      val merged =
        if (base.authority.isDefined && base.path.isEmpty) "/" + ref
        else {
          val i = base.path.lastIndexOf('/')
          if (i < 0) ref else base.path.substring(0, i + 1) + ref
        }
      base.copy(path = removeDotSegments(merged), query = query, fragment = fragment)
    }
  }
}

object Iri {
  // isIri is on the per-triple hot path (wellFormedId checks every
  // subject/predicate/object) and predicates repeat endlessly across a
  // corpus — memoize the parse verdict per thread. JFR put Url.parse at
  // ~12% of engine CPU before this cache.
  private val isIriCache = ThreadLocal.withInitial[java.util.HashMap[String, java.lang.Boolean]](
    () => new java.util.HashMap[String, java.lang.Boolean](1024))

  /** /root/reference/src/util.rs:32-34 — valid absolute IRI ⇔ url parse Ok. */
  def isIri(value: String): Boolean = {
    // zero-alloc accept for the dominant shape; also keeps unique subject
    // IRIs out of the bounded memo (they evicted the predicates that DO hit)
    if (Url.fastValid(value)) return true
    val cache = isIriCache.get()
    val hit = cache.get(value)
    if (hit != null) hit.booleanValue()
    else {
      val v = Url.parse(value).isDefined
      if (cache.size >= 8192) cache.clear() // bounded: corpus vocab is small, ids are not
      cache.put(value, java.lang.Boolean.valueOf(v))
      v
    }
  }

  /** /root/reference/src/util.rs:36-41 — split on the first ':' at index ≥ 1. */
  def asCompactIri(value: String): Option[(String, String)] = {
    if (value.isEmpty) None
    else {
      val idx = value.indexOf(':', 1)
      if (idx < 0) None else Some((value.substring(0, idx), value.substring(idx + 1)))
    }
  }

  // stored with the leading '@' so isKeyword needs no substring allocation
  // (it runs once per object key per expansion — a top JFR byte[] site)
  private val keywords = Set(
    "base", "container", "context", "default", "direction", "embed", "explicit", "graph", "id",
    "included", "index", "json", "language", "list", "nest", "none", "omitDefault", "prefix",
    "preserve", "protected", "requireAll", "reverse", "set", "type", "value", "version", "vocab")
    .map("@" + _)

  /** /root/reference/src/util.rs:14-22 */
  def isKeyword(value: String): Boolean =
    value.length > 1 && value.charAt(0) == '@' && keywords.contains(value)

  /** /root/reference/src/util.rs:24-26 */
  def looksLikeKeyword(value: String): Boolean = {
    if (value.length <= 1 || value.charAt(0) != '@') return false
    var i = 1
    while (i < value.length) {
      val c = value.charAt(i)
      if (!((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))) return false
      i += 1
    }
    true
  }
}
