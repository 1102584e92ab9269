package graft.spark

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.Hashing.splitmix64

/** Deterministic interleaved-docs corpus generator (FIXTURES.md §1): seed 42,
  * no external data, generated distributed via spark.range (no driver loop —
  * the same generator shape scales to 10^12 rows on a real cluster).
  *
  * Per doc: 1–8 spans, kinds cycled from a seeded per-doc RNG, offsets
  * strictly increasing. `jsonld` span text drawn from templates exercising
  * the engine branches catalogued in SURVEY.md §2.1; ~30% of emitted nodes
  * carry @type → rdf:type hot-predicate skew (salting exercise).
  */
object SyntheticDocs {
  val Seed = 42L

  private final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = { s = splitmix64(s); s }
    def nextInt(bound: Int): Int = (Math.floorMod(nextLong(), bound.toLong)).toInt
    def pick[T](xs: IndexedSeq[T]): T = xs(nextInt(xs.length))
  }

  private val ctxPool = RemoteContextPool.knownIris

  /** JSON-LD fragment templates. Each takes (rng, docIdx, spanIdx) and
    * returns the embedded fragment text. Relative IRIs resolve against the
    * per-span base the pipeline assigns.
    */
  private val typeSkewPool = IndexedSeq("Article", "Article", "Article", "Person", "Place")

  private val jsonldTemplates: IndexedSeq[(Rng, Long, Int) => String] = IndexedSeq(
    // 0: inline vocab + typed node (rdf:type skew driver)
    (r, d, s) => {
      val t = r.pick(typeSkewPool) // skew toward one class
      s"""{"@context":{"@vocab":"http://graft.example/vocab/"},"@id":"http://graft.example/e/${d}_$s","@type":"$t","name":"entity $d-$s","rank":${r.nextInt(100)}}"""
    },
    // 1: prefixes + compact IRIs
    (r, d, s) =>
      s"""{"@context":{"sdo":"http://schema.example/"},"@id":"http://graft.example/e/${d}_$s","sdo:name":"n$d","sdo:knows":{"@id":"http://graft.example/e/${d}_k$s"}}""",
    // 2: remote context reference (broadcast-resolved)
    (r, d, s) => {
      val ctx = ctxPool(r.nextInt(ctxPool.length))
      s"""{"@context":"$ctx","@id":"http://graft.example/e/${d}_$s","name":"remote $d"}"""
    },
    // 3: list container
    (r, d, s) =>
      s"""{"@context":{"@vocab":"http://graft.example/vocab/","items":{"@container":"@list"}},"@id":"http://graft.example/e/${d}_$s","items":[${r.nextInt(9)},${r.nextInt(9)},${r.nextInt(9)}]}""",
    // 4: language map + direction
    (r, d, s) =>
      s"""{"@context":{"@vocab":"http://graft.example/vocab/","@direction":"ltr","label":{"@container":"@language"}},"@id":"http://graft.example/e/${d}_$s","label":{"en":"hello $d","de":"hallo $d"}}""",
    // 5: index container
    (r, d, s) =>
      s"""{"@context":{"@vocab":"http://graft.example/vocab/","post":{"@container":"@index"}},"@id":"http://graft.example/e/${d}_$s","post":{"a":{"body":"pa$d"},"b":{"body":"pb$d"}}}""",
    // 6: blank nodes + @reverse
    (r, d, s) =>
      s"""{"@context":{"@vocab":"http://graft.example/vocab/","children":{"@reverse":"http://graft.example/vocab/parent"}},"@id":"_:root","children":[{"@id":"http://graft.example/e/${d}_c$s"}],"note":"bn$d"}""",
    // 7: @nest + scoped context
    (r, d, s) =>
      s"""{"@context":{"@vocab":"http://graft.example/vocab/","detail":{"@context":{"@vocab":"http://graft.example/detail/"}}},"@id":"http://graft.example/e/${d}_$s","@nest":{"inner":"v$d"},"detail":{"depth":${r.nextInt(5)}}}""",
    // 8: @json literal
    (r, d, s) =>
      s"""{"@context":{"@vocab":"http://graft.example/vocab/","payload":{"@type":"@json"}},"@id":"http://graft.example/e/${d}_$s","payload":{"k":[${r.nextInt(100)},true,null]}}""",
    // 9: relative IRIs against per-doc @base
    (r, d, s) =>
      s"""{"@context":{"@vocab":"http://graft.example/vocab/","@base":"http://graft.example/doc/$d/"},"@id":"frag$s","sameAs":{"@id":"other$s"},"w":${r.nextInt(10)}}""",
    // 10: type container + graph container
    (r, d, s) =>
      s"""{"@context":{"@vocab":"http://graft.example/vocab/","byType":{"@container":"@type"}},"@id":"http://graft.example/e/${d}_$s","byType":{"Article":{"name":"t$d"}}}""",
    // 11: anonymous nested bnode chain (canonicalization exercise)
    (r, d, s) =>
      s"""{"@context":{"@vocab":"http://graft.example/vocab/"},"@id":"http://graft.example/e/${d}_$s","a":{"b":{"c":"leaf$d"}},"a2":{"b":{"c":"leaf$d"}}}"""
  )

  private val words = IndexedSeq("the", "quick", "graph", "spark", "engine", "expands", "documents", "into",
    "triples", "knowledge", "data", "scale", "pipeline", "context", "entity", "linked")

  def textSpan(r: Rng, d: Long): String = {
    val n = 4 + r.nextInt(24)
    // one StringBuilder pass (the map+mkString pair showed up in JFR top
    // frames — generation is measured inside every throughput number)
    val sb = new java.lang.StringBuilder(n * 8)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(words(r.nextInt(words.length)))
      i += 1
    }
    sb.append('.').toString
  }

  /** Generate the corpus as Dataset[Doc]; `nDocs` docs, parallelism-friendly. */
  def generate(spark: SparkSession, nDocs: Long, partitions: Int = 32): Dataset[Doc] = {
    import spark.implicits._
    spark.range(0, nDocs, 1, partitions).map { idx =>
      generateDoc(idx)
    }
  }

  def generateDoc(idx: Long): Doc = {
    val r = new Rng(splitmix64(Seed ^ idx))
    val nSpans = 1 + r.nextInt(8)
    val templates = jsonldTemplates
    var offset = 0
    val spans = (0 until nSpans).map { s =>
      offset += 1 + r.nextInt(500)
      r.nextInt(10) match {
        case k if k < 4 => // 40% text
          Span("text", textSpan(r, idx), null, offset)
        case k if k < 9 => // 50% jsonld
          Span("jsonld", templates(r.nextInt(templates.length))(r, idx, s), null, offset)
        case _ => // 10% media
          Span("media", null, s"media://bucket/${splitmix64(idx * 31 + s).toHexString}", offset)
      }
    }
    Doc(docId(idx), spans)
  }

  /** Deep-bnode-chain corpus (j11 / refinement evidence): every jsonld span
    * is a top-level ARRAY of two free-floating bnode chains
    *
    *   _:r —p→ _:m1 —p→ _:m2 —p→ "L{a|b}<doc>_<span>"
    *
    * whose leaves differ but whose upper nodes are structurally identical.
    * Under WL refinement ([[Canonicalize.globalWithRounds]]) only the m2
    * nodes separate at round 0 (their first-degree signature contains the
    * distinct leaf literal); every m1 sees `{o|p|_, s|p|_}` and every root
    * `{s|p|_}`, so the m1s separate at round 1 (via m2's round-0 hash) and
    * the roots only at round 2 (via m1's round-1 hash) — two genuine
    * neighbor-hash rounds before full separation. This is the corpus-scale
    * exercise of the refinement loop that the default generator (doc-local,
    * first-degree-separable bnodes) never triggers.
    *
    * A separate MODE, not a new default template: the default corpus's
    * triple counts are pinned across rounds (EngineProbe 6,789,451 @ 500k
    * docs; bench pipeline 541,603 @ 40k) and must not move.
    */
  def generateDeepBnodes(spark: SparkSession, nDocs: Long, partitions: Int = 32): Dataset[Doc] = {
    import spark.implicits._
    spark.range(0, nDocs, 1, partitions).map(idx => deepBnodeDoc(idx))
  }

  def deepBnodeDoc(idx: Long): Doc = {
    val r = new Rng(splitmix64(Seed ^ (idx + 0x5eedL)))
    val nSpans = 1 + r.nextInt(3)
    var offset = 0
    val spans = (0 until nSpans).map { s =>
      offset += 1 + r.nextInt(500)
      val frag =
        s"""[{"@context":{"@vocab":"http://graft.example/vocab/"},"p":{"p":{"p":"La${idx}_$s"}}},""" +
          s"""{"@context":{"@vocab":"http://graft.example/vocab/"},"p":{"p":{"p":"Lb${idx}_$s"}}}]"""
      Span("jsonld", frag, null, offset)
    }
    Doc(docId(idx), spans)
  }

  /** ≡ f"doc-$idx%012d" without the per-doc Formatter (a measured JFR site). */
  private def docId(idx: Long): String = {
    val sb = new java.lang.StringBuilder(16)
    sb.append("doc-")
    val digits = java.lang.Long.toString(idx)
    var pad = 12 - digits.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(digits).toString
  }
}
