package graftbench

import graft.core._
import graft.json.JsonParser
import graft.spark.{Doc, DocError, ExpandStage}

/** Single-thread time spent in each per-document layer over one pass. */
final case class LayerPass(parseNs: Long, htmlNs: Long, expandNs: Long, toRdfNs: Long, canonNs: Long,
    expandDocNs: Long, parsed: Int, extracted: Int, expanded: Int, docs: Int, ctxCacheEntries: Int) {
  private def us(ns: Long, n: Int): Double = if (n == 0) 0.0 else ns / 1000.0 / n
  def parseUsPerSpan: Double = us(parseNs, parsed)
  def htmlUsPerSpan: Double = us(htmlNs, extracted)
  def expandUsPerSpan: Double = us(expandNs, expanded)
  def toRdfUsPerSpan: Double = us(toRdfNs, expanded)
  def canonUsPerDoc: Double = us(canonNs, docs)
  def expandDocUsPerDoc: Double = us(expandDocNs, docs)
  /** expandDoc time not spent in the calls above: span ordering, mention linking, rows */
  def expandDocSelfUsPerDoc: Double =
    us(expandDocNs - parseNs - htmlNs - expandNs - toRdfNs - canonNs, docs)
}

/** Replays the per-document calls `ExpandStage.expandDoc` makes, one layer at
  * a time, on the calling thread, and times each call from outside.
  */
object Replay {
  private def isEngineSpan(kind: String) = kind == "jsonld" || kind == "html"

  /** One pass over `docs`. `sharedCache` shares one `ApiState` (and so the
    * processed-context cache) across every span, as an `ExpandStage`
    * partition does; otherwise every span gets a fresh state.
    */
  def pass(docs: Vector[Doc], loader: DocumentLoader, sharedCache: Boolean): LayerPass = {
    val options = JsonLdOptions()
    val shared = new ApiState(options, loader)
    val docState = new ApiState(options, loader)
    var parseNs, htmlNs, expandNs, toRdfNs, canonNs, expandDocNs = 0L
    var parsed, extracted, expanded = 0
    for ((doc, i) <- docs.zipWithIndex) {
      // the whole-doc call and the per-layer calls take turns going first,
      // so neither always finds the doc's data in a warmer cache
      if (i % 2 == 1) expandDocNs += timeExpandDoc(doc, docState)
      val docTriples = Vector.newBuilder[Triple]
      for (span <- doc.spans.sortBy(_.offset) if isEngineSpan(span.kind)) {
        try {
          val t0 = System.nanoTime()
          val json =
            if (span.kind == "html") HtmlScripts.extract(span.text, None, extractAllScripts = true)
            else JsonParser.parse(span.text)
          val t1 = System.nanoTime()
          if (span.kind == "html") { htmlNs += t1 - t0; extracted += 1 }
          else { parseNs += t1 - t0; parsed += 1 }
          val opts = options.copy(base = Some(s"${ExpandStage.DocNs}${doc.doc_id}/span/${span.offset}"))
          val state = if (sharedCache) shared.withOptions(opts) else new ApiState(opts, loader)
          val t2 = System.nanoTime()
          val exp = JsonLdApi.expand(JsonLdInput.Doc(json), state)
          val t3 = System.nanoTime()
          docTriples ++= ToRdf.toRdf(exp, opts)
          val t4 = System.nanoTime()
          expandNs += t3 - t2
          toRdfNs += t4 - t3
          expanded += 1
        } catch {
          case _: Exception => // the span is on the error channel; `expected` counts it
        }
      }
      val t5 = System.nanoTime()
      BnodeCanon.canonicalize(docTriples.result(), scopeSalt = doc.doc_id)
      canonNs += System.nanoTime() - t5
      if (i % 2 == 0) expandDocNs += timeExpandDoc(doc, docState)
    }
    LayerPass(parseNs, htmlNs, expandNs, toRdfNs, canonNs, expandDocNs, parsed, extracted, expanded,
      docs.size, shared.processedContexts.size)
  }

  private def timeExpandDoc(doc: Doc, state: ApiState): Long = {
    val t0 = System.nanoTime()
    ExpandStage.expandDoc(doc, state, ExpandStage.aliasDictionary)
    System.nanoTime() - t0
  }

  /** Passes in ABBAAB order (A = shared cache, B = fresh state per span),
    * after one untimed pass of each, so neither variant always runs first
    * or always runs on a warmer JIT.
    */
  def alternating(docs: Vector[Doc], loader: DocumentLoader): (Vector[LayerPass], Vector[LayerPass]) = {
    pass(docs, loader, sharedCache = true)
    pass(docs, loader, sharedCache = false)
    val order = Seq(true, false, false, true, true, false)
    val passes = order.map(shared => shared -> pass(docs, loader, shared))
    (passes.filter(_._1).map(_._2).toVector, passes.filterNot(_._1).map(_._2).toVector)
  }

  /** In-JVM reference output of the engine for `docs`. */
  def expected(docs: Vector[Doc], loader: DocumentLoader): Map[String, (Vector[graft.spark.TripleRow], Vector[DocError])] = {
    val state = new ApiState(JsonLdOptions(), loader)
    docs.map(d => d.doc_id -> ExpandStage.expandDoc(d, state, ExpandStage.aliasDictionary)).toMap
  }
}
