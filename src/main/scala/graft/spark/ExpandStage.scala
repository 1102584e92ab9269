package graft.spark

import graft.core._
import graft.json._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}

/** Per-partition result row: exactly one of triple/error (each with its
  * doc_id) is set. One mapPartitions pass computes both channels.
  */
final case class PipeRow(
    triple: TripleRow, // null on error rows
    error: DocError // null on triple rows
)

/** The per-document engine lifted to Spark: typed `mapPartitions` transform —
  * one pure JVM expand+toRdf call per jsonld span, partition-local blank-node
  * canonicalization, mention detection + entity-link scoring against a
  * broadcast alias dictionary. No shuffle in this stage by design: at 10^12
  * docs every byte shuffled here would dominate the job (SURVEY.md §3,
  * "expansion is partition-local by design").
  */
object ExpandStage {
  val Ns = "http://graft.example/ns#"
  val DocNs = "http://graft.example/doc/"
  // hoisted predicate IRIs (Ns is a val, so `Ns + "..."` re-concatenated per doc)
  private val HasMediaPred = Ns + "hasMedia"
  private val MentionsPred = Ns + "mentions"
  private val MentionScorePred = Ns + "mentionScore"
  private val XsdDecimal = graft.core.ToRdf.XSD + "decimal"

  /** Deterministic alias dictionary (entity linking is a dictionary scorer —
    * the deterministic, broadcastable baseline).
    */
  val aliasDictionary: Map[String, String] = Map(
    "spark" -> "http://graft.example/entity/Spark",
    "graph" -> "http://graft.example/entity/Graph",
    "knowledge" -> "http://graft.example/entity/Knowledge",
    "pipeline" -> "http://graft.example/entity/Pipeline",
    "engine" -> "http://graft.example/entity/Engine"
  )

  def docIri(docId: String): String = DocNs + docId

  @inline private def lower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  @inline private def isTokenChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  // alias dictionary as (chars, entity) pairs in map-iteration order, cached
  // per map instance (the broadcast value is partition-constant)
  @volatile private var aliasCache: (Map[String, String], Array[(Array[Char], String)]) = null
  private def aliasLookup(aliases: Map[String, String]): Array[(Array[Char], String)] = {
    val c = aliasCache
    if (c != null && (c._1 eq aliases)) c._2
    else {
      val arr = aliases.iterator.map { case (a, e) => (a.toCharArray, e) }.toArray
      aliasCache = (aliases, arr)
      arr
    }
  }

  /** token run text[start,end) equals `alias` after ASCII lowercasing */
  @inline private def runEquals(text: String, start: Int, end: Int, alias: Array[Char]): Boolean = {
    if (end - start != alias.length) return false
    var i = 0
    while (i < alias.length) {
      if (lower(text.charAt(start + i)) != alias(i)) return false
      i += 1
    }
    true
  }

  /** The prologue of every per-span engine call: parse `span`, hand `body`
    * its JSON and `options` with the span's base
    * `<DocNs><doc_id>/span/<offset>`, and turn a failure into the span's
    * `DocError`. An html span carries a web page whose JSON-LD lives in
    * `<script type="application/ld+json">` elements; corpus ingestion takes
    * ALL of them (HtmlScripts, W3C HTML content algorithms).
    */
  def withSpan[A](doc: Doc, span: Span, options: JsonLdOptions)(
      body: (JsonValue, JsonLdOptions) => A): Either[DocError, A] =
    try {
      val json =
        if (span.kind == "html") HtmlScripts.extract(span.text, None, extractAllScripts = true)
        else JsonParser.parse(span.text)
      Right(body(json, options.copy(base = Some(s"$DocNs${doc.doc_id}/span/${span.offset}"))))
    } catch {
      case e: JsonLdError =>
        Left(DocError(doc.doc_id, span.offset, e.code.rendered, e.render))
      case e: Exception =>
        Left(DocError(doc.doc_id, span.offset, "loading document failed", String.valueOf(e.getMessage)))
      case _: StackOverflowError =>
        // belt over FastJson.MaxDepth: expansion recursion is several
        // frames per JSON level, so a depth-legal but pathological span
        // could still blow a small executor stack. SOE is an Error — an
        // Exception-only handler would kill the task (and after retries
        // the whole 100 TB job) on ONE hostile document. Span state is
        // thread-local, so unwinding to this boundary is safe.
        Left(DocError(doc.doc_id, span.offset, "loading document failed", "recursion depth exceeded"))
    }

  /** Expand one document to triples (pure; also used by ScalaTest directly).
    * Blank-node labels are canonicalized per document with the doc id as
    * scope salt — bnodes never cross documents by construction, so this is
    * exactly the global canonicalization, computed with zero shuffle.
    * Canonicalize.global, grouped by scope, covers corpora where bnodes DO
    * cross rows.
    */
  def expandDoc(
      doc: Doc,
      loader: DocumentLoader,
      options: JsonLdOptions,
      aliases: Map[String, String]
  ): (Vector[TripleRow], Vector[DocError]) =
    expandDoc(doc, new ApiState(options, loader), aliases)

  def expandDoc(
      doc: Doc,
      partitionState: ApiState,
      aliases: Map[String, String]
  ): (Vector[TripleRow], Vector[DocError]) = {
    val options = partitionState.options
    val triples = Vector.newBuilder[TripleRow]
    val errors = Vector.newBuilder[DocError]
    val dIri = docIri(doc.doc_id)
    // generators emit spans already offset-ordered — detect that in one scan
    // and skip the sort (and its per-doc allocations)
    var preSorted = true
    var dup = false
    var k = 1
    while (k < doc.spans.size) {
      // direct comparison, not a subtraction: offsets near Int.MinValue/MaxValue
      // would overflow a difference and misclassify the span list
      val prev = doc.spans(k - 1).offset
      val cur = doc.spans(k).offset
      if (cur < prev) preSorted = false
      if (cur == prev) dup = true
      k += 1
    }
    val sorted = if (preSorted) doc.spans else doc.spans.sortBy(_.offset)
    if (!preSorted) {
      var j = 1
      while (j < sorted.size && !dup) { if (sorted(j).offset == sorted(j - 1).offset) dup = true; j += 1 }
    }
    // span-order invariant: offsets strictly increasing within a doc
    if (dup)
      errors += DocError(doc.doc_id, -1, "span-order", "duplicate span offsets")

    val docTriples = Vector.newBuilder[Triple]
    for (span <- sorted) span.kind match {
      case "jsonld" | "html" =>
        // withOptions shares the partition-long context caches; only the
        // loaded one hits, as the processed one's key holds the span's base
        withSpan(doc, span, options) { (json, opts) =>
          docTriples ++= ToRdf.toRdf(JsonLdApi.expand(JsonLdInput.Doc(json), partitionState.withOptions(opts)), opts)
        }.left.foreach(errors += _)
      case "media" =>
        if (span.media_ref != null)
          docTriples += Triple(dIri, HasMediaPred, "iri", span.media_ref, "", "", "")
      case _ => // text spans feed mention detection below
    }
    // mention detection + entity-link scoring (deterministic dictionary
    // scorer). Only alias tokens ever get read back, so tokens are matched
    // in place against the alias list — no per-token String/HashMap churn
    // (the earlier groupBy(identity) and then per-token StringBuilder were
    // both top JFR allocation sites)
    val aliasArr = aliasLookup(aliases)
    val aliasHits = new Array[Int](aliasArr.length)
    var totalTokens = 0
    sorted.foreach { s =>
      if (s.kind == "text" && s.text != null) {
        // hand-rolled run scanner ≡ "[^a-z0-9]+".split(text.toLowerCase):
        // tokens are maximal [a-z0-9] runs after ASCII lowercasing; split-
        // parity quirks kept — one empty token when the text is empty or
        // starts with a delimiter
        val text = s.text
        val n = text.length
        var i = 0
        if (n == 0 || !isTokenChar(lower(text.charAt(0)))) totalTokens += 1
        while (i < n) {
          while (i < n && !isTokenChar(lower(text.charAt(i)))) i += 1
          if (i < n) {
            val start = i
            while (i < n && isTokenChar(lower(text.charAt(i)))) i += 1
            var a = 0
            while (a < aliasArr.length) {
              if (runEquals(text, start, i, aliasArr(a)._1)) aliasHits(a) += 1
              a += 1
            }
            totalTokens += 1
          }
        }
      }
    }
    if (totalTokens > 0) {
      var a = 0
      while (a < aliasArr.length) {
        val n = aliasHits(a)
        if (n > 0) {
          val entity = aliasArr(a)._2
          val score = n.toDouble / totalTokens
          // ≡ f"$score%.6f" (verified over 3M rationals) without the
          // Formatter machinery — a measured JFR site
          val scoreLex = new java.math.BigDecimal(java.lang.Double.toString(score))
            .setScale(6, java.math.RoundingMode.HALF_UP).toPlainString
          docTriples += Triple(dIri, MentionsPred, "iri", entity, "", "", "")
          docTriples += Triple(entity, MentionScorePred, "literal",
            scoreLex, XsdDecimal, "", dIri)
        }
        a += 1
      }
    }
    val canon = BnodeCanon.canonicalize(docTriples.result(), scopeSalt = doc.doc_id)
    canon.foreach(t =>
      triples += TripleRow(t.subj, t.pred, t.objKind, t.objValue, t.objDatatype, t.objLang, t.graph, doc.doc_id))
    (triples.result(), errors.result())
  }

  /** docs → PipeRow stream. One ApiState-equivalent loader per partition so
    * the remote-context cache amortizes across the partition (the broadcast
    * map is the reference's FrozenMap writ large).
    */
  def run(
      docs: Dataset[Doc],
      resolvedContexts: Broadcast[Map[String, String]]
  ): Dataset[PipeRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val aliases = aliasDictionary
    docs.mapPartitions { it =>
      val loader = RemoteContextPool.loaderFor(resolvedContexts.value)
      val partitionState = new ApiState(JsonLdOptions(), loader) // caches amortize across the partition
      it.flatMap { doc =>
        val (ts, es) = expandDoc(doc, partitionState, aliases)
        ts.iterator.map(t => PipeRow(t, null)) ++ es.iterator.map(e => PipeRow(null, e))
      }
    }
  }

  def triples(rows: Dataset[PipeRow]): Dataset[TripleRow] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.filter(_.triple != null).map(_.triple)
  }

  def errors(rows: Dataset[PipeRow]): Dataset[DocError] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.filter(_.error != null).map(_.error)
  }
}
