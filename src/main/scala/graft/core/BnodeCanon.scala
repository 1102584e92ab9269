package graft.core

import java.security.MessageDigest

/** URDNA2015-style blank-node canonicalization via iterative hash refinement
  * (color refinement over the bnode adjacency graph). Deterministic: labels
  * depend only on graph structure, never on input label order.
  *
  * This is the partition-local (per-document) formulation; the distributed
  * formulation for corpora whose bnodes span rows lives in
  * graft.spark.Canonicalize and follows the same refinement rounds.
  */
object BnodeCanon {

  // reusable per-thread UTF-8 staging buffer for digest updates (the
  // String.getBytes byte[] per hash was a top allocation site)
  private val utf8Buf = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](256))

  /** md.update with exactly the bytes of `s.getBytes(UTF_8)`, no per-call
    * byte[] (standard UTF-8 encode incl. surrogate pairs into a reused buffer).
    */
  private def updateUtf8(md: MessageDigest, s: String): Unit = {
    var buf = utf8Buf.get()
    val maxLen = s.length * 3 + 4 // worst case (astral pairs: 2 chars → 4 bytes < 6)
    if (buf.length < maxLen) { buf = new Array[Byte](Integer.highestOneBit(maxLen) * 2); utf8Buf.set(buf) }
    var i = 0; var n = 0
    val len = s.length
    while (i < len) {
      val c = s.charAt(i)
      if (c < 0x80) { buf(n) = c.toByte; n += 1 }
      else if (c < 0x800) {
        buf(n) = (0xc0 | (c >> 6)).toByte; buf(n + 1) = (0x80 | (c & 0x3f)).toByte; n += 2
      } else if (Character.isHighSurrogate(c) && i + 1 < len && Character.isLowSurrogate(s.charAt(i + 1))) {
        val cp = Character.toCodePoint(c, s.charAt(i + 1)); i += 1
        buf(n) = (0xf0 | (cp >> 18)).toByte; buf(n + 1) = (0x80 | ((cp >> 12) & 0x3f)).toByte
        buf(n + 2) = (0x80 | ((cp >> 6) & 0x3f)).toByte; buf(n + 3) = (0x80 | (cp & 0x3f)).toByte; n += 4
      } else if (Character.isSurrogate(c)) { buf(n) = '?'.toByte; n += 1 } // unpaired → '?', same as getBytes(UTF_8)
      else {
        buf(n) = (0xe0 | (c >> 12)).toByte; buf(n + 1) = (0x80 | ((c >> 6) & 0x3f)).toByte
        buf(n + 2) = (0x80 | (c & 0x3f)).toByte; n += 3
      }
      i += 1
    }
    md.update(buf, 0, n)
  }

  private def sha256(s: String): String = {
    val md = Hashing.sha256.get()
    md.reset()
    updateUtf8(md, s)
    Hashing.hex(md.digest())
  }

  /** Most refinement rounds per individualization branch. */
  private val MaxRounds = 8

  private def objKey(t: Triple): String = t.objKind + "\u0001" + t.objValue + "\u0001" + t.objDatatype + "\u0001" + t.objLang

  /** Relabel all `_:` ids in `triples` with canonical `_:c<hex>` labels.
    * `scopeSalt` is mixed into every label so bnodes from different scopes
    * (documents) never collide; pass "" to canonicalize purely by structure.
    * `MaxRounds` bounds the refinement fixpoint (graph diameter is the true
    * bound; identical-hash survivors get deterministic ordinal suffixes).
    */
  def canonicalize(triples0: Vector[Triple], scopeSalt: String = ""): Vector[Triple] = {
    // labels must depend on the quad SET, not the triple multiset: a
    // document repeating an identical value emits the same triple twice
    // out of toRdf, while a round-trip through fromRdf dedups it — hashing
    // the duplicate would give the same graph two different canonical
    // labelings (generative sweep, toRdf∘fromRdf identity leg)
    val triples = if (triples0.length > 1) triples0.distinct else triples0
    val bnodes = collection.mutable.LinkedHashSet[String]()
    triples.foreach { t =>
      if (t.subj.startsWith("_:")) bnodes += t.subj
      if (t.pred.startsWith("_:")) bnodes += t.pred // generalized RDF
      if (t.objKind == "bnode") bnodes += t.objValue
      if (t.graph.startsWith("_:")) bnodes += t.graph
    }
    if (bnodes.isEmpty) return triples0

    // Signatures are accumulated node-by-node in ONE pass over the triples
    // (the per-bnode flatMap formulation rescanned all triples per bnode —
    // O(B×T) and a top JFR allocation site; signature STRINGS are unchanged,
    // so canonical labels stay byte-identical).
    def sigPass(emit: (String, String) => Unit, term: String => String,
                obj: Triple => String, graphSig: Triple => String): Unit =
      triples.foreach { t =>
        if (t.subj.startsWith("_:")) emit(t.subj, s"s|${term(t.pred)}|${obj(t)}|${term(t.graph)}")
        if (t.pred.startsWith("_:")) emit(t.pred, s"p|${term(t.subj)}|${obj(t)}|${term(t.graph)}")
        if (t.objKind == "bnode") emit(t.objValue, s"o|${term(t.pred)}|${term(t.subj)}|${term(t.graph)}")
        if (t.graph.startsWith("_:")) emit(t.graph, graphSig(t))
      }

    def hashRound(term: String => String, obj: Triple => String, graphSig: Triple => String,
                  prevHash: String => String): Map[String, String] = {
      val sigsByNode = new java.util.HashMap[String, collection.mutable.ArrayBuffer[String]]()
      bnodes.foreach(b => sigsByNode.put(b, new collection.mutable.ArrayBuffer[String](4)))
      sigPass((b, sig) => sigsByNode.get(b) += sig, term, obj, graphSig)
      bnodes.iterator.map { b =>
        val sigs = sigsByNode.get(b).sorted
        // digest fed incrementally — same bytes as prevHash(b) + sigs.mkString("\n")
        val md = Hashing.sha256.get()
        md.reset()
        updateUtf8(md, prevHash(b))
        var i = 0
        while (i < sigs.length) {
          if (i > 0) md.update('\n'.toByte)
          updateUtf8(md, sigs(i))
          i += 1
        }
        b -> Hashing.hex(md.digest())
      }.toMap
    }

    // initial hash: local first-degree signature ("_" masks bnode neighbors)
    def mask(s: String): String = if (s.startsWith("_:")) "_" else s
    val firstDegree: Map[String, String] = hashRound(
      mask, t => if (t.objKind == "bnode") "_" else objKey(t), t => s"g|${mask(t.pred)}", _ => "")

    // refinement: re-hash with neighbor hashes until stable or round cap.
    // Skips entirely when the signatures already separate every node (the
    // overwhelmingly common case for document-local bnode graphs).
    def refine(h0: Map[String, String]): Map[String, String] = {
      var hs = h0
      var round = 0
      var changed = hs.values.toSet.size != bnodes.size
      while (changed && round < MaxRounds) {
        def term(s: String): String = if (s.startsWith("_:")) "#" + hs(s) else s
        val next = hashRound(
          term, t => if (t.objKind == "bnode") "#" + hs(t.objValue) else objKey(t),
          t => s"g|${term(t.pred)}|${term(t.subj)}", b => hs(b) + "\n")
        changed = next != hs &&
          next.values.toSet.size != hs.values.toSet.size // refine only while partitions split
        hs = next
        round += 1
      }
      hs
    }

    // the full-graph signature under a hash assignment: quads rendered with
    // node hashes instead of labels — equal signatures ⟺ identical final
    // canonical output, and input labels never appear
    def signatureOf(hs: Map[String, String]): String = {
      def term(s: String): String = if (s.startsWith("_:")) "#" + hs(s) else s
      triples.map(t => s"${term(t.subj)}|${term(t.pred)}|" +
        (if (t.objKind == "bnode") "#" + hs(t.objValue) else objKey(t)) +
        s"|${term(t.graph)}").sorted.mkString("\n")
    }

    // Individualization-refinement for WL-stable ties (bug #23, permutation
    // sweep): an AUTOMORPHIC graph (uniform cycles/cliques) leaves hash-
    // identical groups that refinement cannot split, and any tie-break that
    // consults input labels makes canonical EDGES depend on input labeling.
    // URDNA2015-style: take the tied group with the least hash, individualize
    // each member in turn with a marker derived from the SHARED group hash
    // (never the member's label), recurse, and keep the branch with the
    // lexicographically least full-graph signature. Budget-capped: truly
    // adversarial symmetry (a large uniform clique is factorial) falls back
    // to the deterministic-but-label-dependent firstSeen ordinal below.
    var indBudget = 1024
    def breakTies(h0: Map[String, String]): Map[String, String] = {
      val hs = refine(h0)
      val tied = bnodes.toVector.groupBy(hs).filter(_._2.size > 1)
      if (tied.isEmpty || indBudget <= 0) hs
      else {
        val (groupHash, members) = tied.minBy(_._1)
        val distinguished = sha256(groupHash + "|ind")
        var best: Map[String, String] = null
        var bestSig: String = null
        var explored = 0
        for (m <- members if explored == 0 || indBudget > 0) {
          indBudget -= 1
          explored += 1
          val cand = breakTies(hs.updated(m, distinguished))
          val sig = signatureOf(cand)
          if (bestSig == null || sig < bestSig) { best = cand; bestSig = sig }
        }
        best
      }
    }
    val hashes: Map[String, String] = breakTies(firstDegree)

    val groups = bnodes.toVector.groupBy(hashes)
    val labels = collection.mutable.Map[String, String]()
    // deterministic tie-break for hash-identical (automorphic) nodes: order
    // survivors by stable first occurrence in the canonically-sorted triple
    // listing. Computed lazily — the common all-singleton case skips the sort.
    lazy val firstSeen: Map[String, Int] = {
      val sortedTriples = triples.map(t => (t.graph, t.subj, t.pred, objKey(t))).sorted
      val m = collection.mutable.LinkedHashMap[String, Int]()
      var i = 0
      for ((g, s, _, o) <- sortedTriples; cand <- Seq(s, o.split('\u0001')(1), g))
        if (cand.startsWith("_:") && !m.contains(cand)) { m(cand) = i; i += 1 }
      m.toMap
    }
    for ((h, members) <- groups) {
      if (members.size == 1)
        labels(members.head) = "_:c" + sha256(scopeSalt + "|" + h).substring(0, 16)
      else {
        val orderedMembers = members.sortBy(m => firstSeen.getOrElse(m, Int.MaxValue))
        for ((m, i) <- orderedMembers.zipWithIndex)
          labels(m) = "_:c" + sha256(scopeSalt + "|" + h + s"-$i").substring(0, 16)
      }
    }
    triples0.map { t =>
      // copy only when a field is actually relabeled (bnode fields are the
      // minority; Triple.copy per triple was a measured allocation site)
      val s = if (t.subj.startsWith("_:")) labels.getOrElse(t.subj, t.subj) else t.subj
      val p = if (t.pred.startsWith("_:")) labels.getOrElse(t.pred, t.pred) else t.pred
      val o = if (t.objKind == "bnode") labels.getOrElse(t.objValue, t.objValue) else t.objValue
      val g = if (t.graph.startsWith("_:")) labels.getOrElse(t.graph, t.graph) else t.graph
      if ((s eq t.subj) && (p eq t.pred) && (o eq t.objValue) && (g eq t.graph)) t
      else Triple(s, p, t.objKind, o, t.objDatatype, t.objLang, g)
    }
  }

  /** Canonical N-Quads-style line for a triple (sorted output = canonical form). */
  def toNQuad(t: Triple): String = {
    def term(s: String): String = if (s.startsWith("_:")) s else s"<$s>"
    def escape(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
    val obj = t.objKind match {
      case "literal" =>
        val base = "\"" + escape(t.objValue) + "\""
        if (t.objLang.nonEmpty) base + "@" + t.objLang
        else if (t.objDatatype.nonEmpty && t.objDatatype != ToRdf.XsdString) base + "^^<" + t.objDatatype + ">"
        else base
      case _ => term(t.objValue)
    }
    val g = if (t.graph.isEmpty) "" else " " + term(t.graph)
    s"${term(t.subj)} ${term(t.pred)} $obj$g ."
  }

  def toCanonicalNQuads(triples: Vector[Triple]): String =
    canonicalize(triples).map(toNQuad).distinct.sorted.mkString("\n")

  /** Minimal N-Quads parser for test fixtures (full Turtle escapes not needed). */
  def parseNQuads(text: String): Vector[Triple] = {
    val TripleRe =
      """^\s*(<[^>]*>|_:\S+)\s+(<[^>]*>|_:\S+)\s+(<[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"(?:@[\w-]+|\^\^<[^>]*>)?)\s*(<[^>]*>|_:\S+)?\s*\.\s*$""".r
    // single pass, left to right — sequential String.replace mis-parses
    // mixed sequences ("\\n" = escaped backslash + 'n' became backslash +
    // newline, caught by toRdf/r0049's JCS fixture)
    // truncated/garbage \uXXXX must fail as a parse diagnostic, not leak a
    // StringIndexOutOfBounds/NumberFormatException out of a fixture parser
    def hexEscape(s: String, from: Int, n: Int): Int =
      try {
        if (from + n > s.length) throw new IndexOutOfBoundsException
        Integer.parseInt(s.substring(from, from + n), 16)
      } catch {
        case _: IndexOutOfBoundsException | _: NumberFormatException =>
          throw new IllegalArgumentException(s"malformed \\u escape in N-Quads literal: $s")
      }
    def unescape(s: String): String = {
      if (s.indexOf('\\') < 0) return s
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          i += 1
          s.charAt(i) match {
            case 't' => sb.append('\t')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case '"' => sb.append('"')
            case '\'' => sb.append('\'')
            case '\\' => sb.append('\\')
            case 'u' => sb.append(hexEscape(s, i + 1, 4).toChar); i += 4
            case 'U' => sb.appendCodePoint(hexEscape(s, i + 1, 8)); i += 8
            case other => sb.append('\\').append(other)
          }
        } else sb.append(c)
        i += 1
      }
      sb.toString
    }
    text.linesIterator.filter(l => l.trim.nonEmpty && !l.trim.startsWith("#")).map { line =>
      line match {
        case TripleRe(s, p0, o, g) =>
          val subj = if (s.startsWith("<")) s.substring(1, s.length - 1) else s
          val p = if (p0.startsWith("<")) p0.substring(1, p0.length - 1) else p0
          val graph = Option(g).map(x => if (x.startsWith("<")) x.substring(1, x.length - 1) else x).getOrElse("")
          if (o.startsWith("\"")) {
            val closeQ = {
              var i = 1; var found = -1
              while (found < 0 && i < o.length) {
                if (o.charAt(i) == '\\') i += 2
                else if (o.charAt(i) == '"') found = i
                else i += 1
              }
              found
            }
            val lex = unescape(o.substring(1, closeQ))
            val rest = o.substring(closeQ + 1)
            if (rest.startsWith("@")) Triple(subj, p, "literal", lex, ToRdf.LangString, rest.substring(1), graph)
            else if (rest.startsWith("^^<")) Triple(subj, p, "literal", lex, rest.substring(3, rest.length - 1), "", graph)
            else Triple(subj, p, "literal", lex, ToRdf.XsdString, "", graph)
          } else if (o.startsWith("_:")) Triple(subj, p, "bnode", o, "", "", graph)
          else Triple(subj, p, "iri", o.substring(1, o.length - 1), "", "", graph)
        case _ => throw new IllegalArgumentException(s"cannot parse N-Quad line: $line")
      }
    }.toVector
  }
}
