package graftbench

import graft.spark.{Doc, Span, SyntheticDocs}

/** How one workload derives its corpus from the default generator.
  *
  * @param docs       documents per corpus
  * @param slot       which third of the seed's doc-index window this workload takes
  * @param htmlEvery  every n-th jsonld span becomes an HTML page (0 = none)
  * @param errorEvery every n-th jsonld span is broken: truncated JSON or an
  *                   unknown remote context, alternately (0 = none)
  * @param deepEvery  every n-th doc is a deep-bnode doc (0 = none)
  * @param passSeconds nominal seconds of one pass on a 4-core host; a window
  *                   of S seconds makes round(S / passSeconds) passes
  */
final case class Recipe(docs: Int, slot: Int, htmlEvery: Int, errorEvery: Int, deepEvery: Int,
    passSeconds: Double)

/** Span counts of a generated corpus, by kind. */
final case class CorpusStats(docs: Long, text: Long, jsonld: Long, html: Long, media: Long) {
  /** spans that go through the JSON-LD engine and can land on the error channel */
  def engineSpans: Long = jsonld + html
}

/** Seeded corpora. Doc content comes from `SyntheticDocs` unchanged; the
  * seed only picks the doc-index window, and the recipe decides which spans
  * are wrapped or broken, by position, so the shares are exact.
  */
object Corpus {
  val HtmlPrefix = """<html><head><script type="application/ld+json">"""
  val HtmlSuffix = """</script></head><body>p</body></html>"""
  val MissingContext = "http://graft.example/ctx/missing.jsonld"

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** First doc index: the seed picks one of 1000 windows of three slots. */
  def windowStart(seed: Long, r: Recipe): Long =
    (Math.floorMod(mix(seed), 1000L) * 3 + r.slot) * r.docs

  /** Docs `[b·n/blocks, (b+1)·n/blocks)` of the corpus. Blocks are
    * independent, so executors can each write one and the Spark driver can
    * rebuild any of them.
    */
  def block(seed: Long, r: Recipe, b: Int, blocks: Int): Vector[Doc] = {
    val start = windowStart(seed, r)
    var jsonldSeen = 0
    (r.docs.toLong * b / blocks until r.docs.toLong * (b + 1) / blocks).map { i =>
      val idx = start + i
      val doc =
        if (r.deepEvery > 0 && i % r.deepEvery == r.deepEvery - 1) {
          // deep docs share the doc-id scheme; rename them so that no two
          // docs of the mix share a scope in Canonicalize
          val d = SyntheticDocs.deepBnodeDoc(idx)
          d.copy(doc_id = "deep-" + d.doc_id)
        } else SyntheticDocs.generateDoc(idx)
      doc.copy(spans = doc.spans.map { sp =>
        if (sp.kind != "jsonld") sp
        else {
          jsonldSeen += 1
          if (r.errorEvery > 0 && jsonldSeen % r.errorEvery == 0) broken(sp, jsonldSeen / r.errorEvery)
          else if (r.htmlEvery > 0 && jsonldSeen % r.htmlEvery == 0) wrap(sp)
          else sp
        }
      }.toVector)
    }.toVector
  }

  def generate(seed: Long, r: Recipe, blocks: Int): Vector[Doc] =
    (0 until blocks).flatMap(b => block(seed, r, b, blocks)).toVector

  def wrap(sp: Span): Span = sp.copy(kind = "html", text = HtmlPrefix + sp.text + HtmlSuffix)

  /** The jsonld span an html span was made from. */
  def unwrap(sp: Span): Span =
    sp.copy(kind = "jsonld", text = sp.text.stripPrefix(HtmlPrefix).stripSuffix(HtmlSuffix))

  private def broken(sp: Span, k: Int): Span =
    if (k % 2 == 1) sp.copy(text = sp.text.take(sp.text.length / 2))
    else sp.copy(text = s"""{"@context":"$MissingContext","@id":"http://graft.example/e/broken_$k","name":"x"}""")

  def stats(docs: Vector[Doc]): CorpusStats = {
    var text, jsonld, html, media = 0L
    for (d <- docs; s <- d.spans) s.kind match {
      case "text" => text += 1
      case "jsonld" => jsonld += 1
      case "html" => html += 1
      case _ => media += 1
    }
    CorpusStats(docs.size.toLong, text, jsonld, html, media)
  }
}
