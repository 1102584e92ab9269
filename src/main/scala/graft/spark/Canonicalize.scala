package graft.spark

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays
import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.Hashing

/** A triple row with its blank-node keys, `<doc_id>|<label>` per role (null
  * where the role holds no blank node), and its `scope`, as [[Canonicalize]]
  * shuffles it.
  */
private[spark] final case class KeyedTriple(subj: String, pred: String, obj_kind: String,
    obj_value: String, obj_datatype: String, obj_lang: String, graph: String, doc_id: String,
    subj_key: String, obj_key: String, graph_key: String, scope: String) {
  def row: TripleRow = TripleRow(subj, pred, obj_kind, obj_value, obj_datatype, obj_lang, graph, doc_id)
}

/** Node count and distinct-hash count after rounds 0, 1, … of one or more
  * scopes; adding two sums them.
  */
private[spark] final case class ScopeCounts(nodes: Long, distinct: Array[Long]) {
  def +(o: ScopeCounts): ScopeCounts =
    ScopeCounts(nodes + o.nodes, Array.tabulate(distinct.length)(k => distinct(k) + o.distinct(k)))
}

private[spark] object ScopeCounts {
  def zero(probes: Int): ScopeCounts = ScopeCounts(0L, new Array[Long](probes))
}

/** URDNA2015-style blank-node labeling for corpora where blank nodes span
  * rows: the distributed counterpart of graft.core.BnodeCanon, computed
  * scope by scope in memory.
  *
  * A node is keyed `<doc_id>|<label>` (`|<label>` when unscoped) and its
  * scope is the key's text before the first `|`: the doc id truncated at its
  * own first `|`, so docs `a|1` and `a|2` share scope `a`. Every hash is
  * seeded with the scope and the automorphism tie-break ranks within a
  * scope, so no hash, rank or label depends on another scope. The stage
  * therefore shuffles every row once, bnode-adjacent rows by scope, and
  * sorts each partition so that its scopes come first, one after another,
  * and the rows without a blank node last. Two passes read that one
  * shuffled RDD:
  *
  *  1. per scope, the node count and the distinct-hash counts after
  *     Weisfeiler-Lehman rounds 0 .. `rounds`−1, summed per partition on
  *     the executors and then on the driver, which collects one row per
  *     partition whatever the number of scopes;
  *  2. per scope, hashes at round R, ranks, labels, and the relabelled rows,
  *     then the partition's other rows unchanged.
  *
  * Pass 2's job reads pass 1's shuffle files and skips the map stage, so the
  * input runs once. Nothing is checkpointed: the returned DataFrame wraps
  * pass 2's RDD, whose lineage keeps the shuffle alive, and a lost map
  * output is recomputed from that lineage. The input must therefore be
  * deterministic, as every expand pipeline is.
  *
  * R is global: refinement stops at the first round whose corpus-wide
  * distinct-hash count is unchanged or equals the node count, `rounds`
  * capping it. A scope cannot stop at its own fixpoint, because round-r
  * hashes differ from round-(r−1) hashes even when its partition is stable,
  * so every scope is hashed to the same R. The sums are exact: hashes of
  * different scopes differ by their seed, so they collide only through a
  * SHA-256 collision. Rows without a blank-node key pass through
  * untouched; that includes every row whose `doc_id` is null in scoped mode.
  *
  * Memory: a task holds one scope's bnode-adjacent rows at a time — in
  * scoped mode one document's, or those of all docs whose ids agree up to
  * their first `|` — and streams the other rows one by one; the sort spills
  * as any Spark sort does. `scoped = false` makes the whole corpus one scope
  * `""`, whose rows one task holds; no query uses it.
  *
  * Partitions: the shuffle has max(cores, `spark.sql.shuffle.partitions`)
  * partitions, so each task sorts about (input) ÷ that count, sized like any
  * other shuffle of the session. The count is fixed, so AQE neither
  * coalesces nor splits these partitions; a scope is indivisible in any
  * case, so one oversized document still lands in one task. A row is
  * partitioned by its scope, or, without one, by its `doc_id`, or its
  * subject when that is null too: the key is never null, so the null-doc_id
  * rows of scoped mode spread over the partitions instead of hashing to one.
  */
object Canonicalize {

  /** Every triple role a canonical label can land in. */
  val AllRoles: Set[String] = Set("subj", "obj", "graph")

  /** Relabel `_:` ids in `triples`. `scoped` = true keys bnodes by
    * (doc_id, label) — doc-local bnode spaces; false = one global space.
    *
    * `relabelRoles` names the roles whose blank nodes are relabelled; a role
    * left out keeps its original labels, and every other column, including
    * the labels of the kept roles, is identical to the all-roles run.
    */
  def global(triples: Dataset[TripleRow], rounds: Int = 3, scoped: Boolean = true,
      relabelRoles: Set[String] = AllRoles): DataFrame =
    globalWithRounds(triples, rounds, scoped, relabelRoles)._1

  /** [[global]], additionally reporting how many WL refinement rounds
    * ran (0 when first-degree signatures separate every bnode — the
    * overwhelmingly common doc-scoped case; > 0 when signature collisions
    * forced neighbor-hash refinement). The count is known eagerly: pass 1
    * has executed by the time this returns. j11 uses it as a self-check that
    * its corpus really exercises the refinement path.
    */
  def globalWithRounds(triples: Dataset[TripleRow], rounds: Int = 3, scoped: Boolean = true,
      relabelRoles: Set[String] = AllRoles): (DataFrame, Int) = {
    require(relabelRoles.nonEmpty && relabelRoles.subsetOf(AllRoles),
      s"relabelRoles must be a non-empty subset of $AllRoles")
    val spark = triples.sparkSession
    import spark.implicits._
    val shuffled = byScope(keyedByScope(triples.toDF(), scoped))

    // pass 1: the counts the stop rule reads, for rounds 0 .. rounds-1
    val probes = rounds max 1
    val ScopeCounts(nodes, distinct) =
      scopeCounts(shuffled, probes).collect().foldLeft(ScopeCounts.zero(probes))(_ + _)
    // refinement runs while the distinct count still changes and some nodes
    // still share a hash; the count after the last permitted round is never
    // read, so `rounds` caps R without a probe. No nodes: R = 0, and pass 2
    // hands the shuffled rows back unchanged
    val r =
      if (rounds <= 0 || distinct(0) == nodes) 0
      else (1 until rounds).find(k => distinct(k) == distinct(k - 1) || distinct(k) == nodes).getOrElse(rounds)

    // pass 2: label every scope at round R, then pass the other rows through
    val relabeled = shuffled.mapPartitions { rows =>
      val buffered = rows.buffered
      scopeGraphs(buffered).flatMap(_.relabel(r, relabelRoles)) ++ buffered.map(_.row)
    }
    (spark.createDataset(relabeled).toDF(), r)
  }

  /** `rows` with the bnode keys of [[KeyedTriple]] and their `scope`, null
    * on rows without a blank node.
    */
  private[spark] def keyedByScope(rows: DataFrame, scoped: Boolean): DataFrame = {
    val docScope = if (scoped) col("doc_id") else lit("")
    def key(label: String) = concat(docScope, lit("|"), col(label))
    rows
      .withColumn("subj_key", when(col("subj").startsWith("_:"), key("subj")))
      .withColumn("obj_key", when(col("obj_kind") === "bnode", key("obj_value")))
      .withColumn("graph_key", when(col("graph").startsWith("_:"), key("graph")))
      .withColumn("scope", substring_index(coalesce(col("subj_key"), col("obj_key"), col("graph_key")), "|", 1))
  }

  /** Every row of `keyed`, shuffled once by its never-null partition key
    * and sorted by scope, nulls last. Both passes read this one RDD
    * instance, and so one set of shuffle files: a second Dataset over the
    * same plan would plan, and run, its own exchange.
    */
  private[spark] def byScope(keyed: DataFrame): RDD[KeyedTriple] = {
    val spark = keyed.sparkSession
    import spark.implicits._
    // a scope's work is hashing, heavy for its bytes: AQE would coalesce the
    // small shuffle into one task, so fix the count, at least one per core
    val partitions = spark.sparkContext.defaultParallelism max
      spark.conf.get("spark.sql.shuffle.partitions").toInt
    keyed.repartition(partitions, coalesce(col("scope"), col("doc_id"), col("subj"), lit("")))
      .sortWithinPartitions(col("scope").asc_nulls_last)
      .as[KeyedTriple].rdd
  }

  /** The scopes at the head of a partition of [[byScope]], one buffered at a
    * time; `rows` is left at the partition's first row without a scope.
    */
  private def scopeGraphs(rows: BufferedIterator[KeyedTriple]): Iterator[ScopeGraph] = new Iterator[ScopeGraph] {
    def hasNext: Boolean = rows.hasNext && rows.head.scope != null
    def next(): ScopeGraph = {
      val scope = rows.head.scope
      val members = Vector.newBuilder[KeyedTriple]
      while (hasNext && rows.head.scope == scope) members += rows.next()
      new ScopeGraph(scope, members.result())
    }
  }

  /** Pass 1: per partition of [[byScope]], the summed [[ScopeCounts]] of its
    * scopes for rounds 0 .. `probes`−1, one row per partition. It stops at
    * the partition's first row without a scope, before deserializing the rest.
    */
  private[spark] def scopeCounts(shuffled: RDD[KeyedTriple], probes: Int): RDD[ScopeCounts] =
    shuffled.mapPartitions(rows =>
      Iterator(scopeGraphs(rows.buffered).foldLeft(ScopeCounts.zero(probes))(_ + _.counts(probes))))

  private val PredicateSalt = 32

  /** Skew-aware per-predicate profile: two-phase (salted partial → final)
    * aggregation for the rdf:type-style hot predicates (north_rule: skew
    * handled explicitly — a plain groupBy(pred) sends every rdf:type row to
    * one reducer; the salt spreads it over `PredicateSalt` reducers first).
    */
  def predicateCounts(triples: Dataset[TripleRow]): DataFrame = {
    val t = triples.toDF()
    t.groupBy(col("pred"), pmod(xxhash64(col("subj")), lit(PredicateSalt)).as("salt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy(col("pred"))
      .agg(sum(col("partial")).as("n"))
  }
}

/** The blank-node graph of one scope's rows, hashed in memory.
  *
  * Its labels are byte for byte those of the SQL join formulation that
  * PipelineSpec keeps as its reference (`JoinCanonicalize`): signatures are `concat_ws("|", role, pred, other, g)`
  * (null parts skipped), sorted by UTF-8 bytes as Spark sorts strings, and
  * joined by "\n"; a node hash is the lowercase hex SHA-256 of
  * `<scope>\u0000<signatures>`.
  */
private final class ScopeGraph(scope: String, rows: Vector[KeyedTriple]) {
  import ScopeGraph._

  private val ids = mutable.HashMap.empty[String, Int]
  private val keys = mutable.ArrayBuffer.empty[String]
  private def id(key: String): Int =
    if (key == null) -1 else ids.getOrElseUpdate(key, { keys += key; keys.size - 1 })

  // One entry per (node, role) incidence of a distinct row: duplicate triples
  // must not change the hashes, which depend on the triple set only. The
  // signature is `pre + other + post`, where other is `lit` when set, else
  // the neighbour's hash ("_" in round 0) when there is one, else "".
  private val node, nbr = mutable.ArrayBuilder.make[Int]
  private val pre, lit, post = mutable.ArrayBuilder.make[String]
  private def incidence(n: Int, role: String, pred: String, other: String, otherNode: Int, g: String): Unit =
    if (n >= 0) {
      node += n; nbr += otherNode; lit += other
      pre += (if (pred == null) role + "|" else role + "|" + pred + "|")
      post += (if (g == null) "" else "|" + g)
    }
  rows.distinct.foreach { t =>
    val (s, o, gr) = (id(t.subj_key), id(t.obj_key), id(t.graph_key))
    val g = if (gr >= 0) "_" else t.graph
    // U+0001 separates the object fields; spelled as an escape because the
    // raw control character is invisible in source
    val objSig = Seq(t.obj_kind, t.obj_value, t.obj_datatype, t.obj_lang).filter(_ != null).mkString("\u0001")
    incidence(s, "s", t.pred, if (o >= 0) null else objSig, o, g)
    incidence(o, "o", t.pred, if (s >= 0) null else t.subj, s, g)
    incidence(gr, "g", t.pred, null, -1, "")
  }
  private val (incNode, incNbr, incPre, incLit, incPost) =
    (node.result(), nbr.result(), pre.result(), lit.result(), post.result())
  private val n = keys.size
  private val scopeBytes = scope.getBytes(UTF_8)

  /** Node hashes after one more round; `prev` = null gives round 0. */
  private def refine(prev: Array[String]): Array[String] = {
    val sigs = Array.fill(n)(mutable.ArrayBuffer.empty[Array[Byte]])
    var i = 0
    while (i < incNode.length) {
      val other =
        if (incLit(i) != null) incLit(i)
        else if (incNbr(i) < 0) ""
        else if (prev == null) "_"
        else "#" + prev(incNbr(i))
      sigs(incNode(i)) += (incPre(i) + other + incPost(i)).getBytes(UTF_8)
      i += 1
    }
    sigs.map { s =>
      val md = Hashing.sha256.get()
      md.reset()
      md.update(scopeBytes)
      md.update(0.toByte)
      s.sortInPlace()(byteOrder).iterator.zipWithIndex.foreach { case (b, j) =>
        if (j > 0) md.update('\n'.toByte)
        md.update(b)
      }
      Hashing.hex(md.digest())
    }
  }

  /** Node count and distinct-hash counts after rounds 0 .. probes-1. Once the
    * count stops changing or reaches the node count it is carried forward
    * without hashing: refinement only splits classes, so it stays put.
    */
  def counts(probes: Int): ScopeCounts = {
    val d = new Array[Long](probes)
    var h = refine(null)
    d(0) = h.distinct.length.toLong
    for (k <- 1 until probes) {
      d(k) =
        if (d(k - 1) == n || (k >= 2 && d(k - 1) == d(k - 2))) d(k - 1)
        else { h = refine(h); h.distinct.length.toLong }
    }
    ScopeCounts(n.toLong, d)
  }

  /** The scope's rows (duplicates kept) with the blank nodes of `roles`
    * relabelled by their round-`round` labels.
    */
  def relabel(round: Int, roles: Set[String]): Iterator[TripleRow] = {
    val h = (1 to round).foldLeft(refine(null))((prev, _) => refine(prev))
    // nodes sharing a hash are told apart by the byte order of their keys:
    // deterministic, but not invariant under relabelling the input when the
    // tie is WL-stable (BnodeCanon individualizes instead)
    val label = new Array[String](n)
    (0 until n).groupBy(v => h(v)).foreach { case (hv, members) =>
      val tied = members.size > 1
      members.sortBy(v => keys(v).getBytes(UTF_8))(byteOrder).iterator.zipWithIndex.foreach { case (v, rank) =>
        val md = Hashing.sha256.get()
        md.reset()
        label(v) = "_:c" + Hashing.hex(md.digest(
          s"$scope|$hv|${if (tied) rank.toString else ""}".getBytes(UTF_8))).substring(0, 16)
      }
    }
    def relabeled(role: String, key: String, orig: String) =
      if (key != null && roles(role)) label(ids(key)) else orig
    rows.iterator.map(t => TripleRow(relabeled("subj", t.subj_key, t.subj), t.pred, t.obj_kind,
      relabeled("obj", t.obj_key, t.obj_value), t.obj_datatype, t.obj_lang,
      relabeled("graph", t.graph_key, t.graph), t.doc_id))
  }
}

private object ScopeGraph {
  /** Spark's string order: UTF-8 bytes compared unsigned. */
  private val byteOrder: Ordering[Array[Byte]] = (a, b) => Arrays.compareUnsigned(a, b)
}
