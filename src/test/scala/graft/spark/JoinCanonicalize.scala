package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The corpus-wide join formulation of [[Canonicalize.globalWithRounds]],
  * frozen as the reference that the grouped implementation is compared
  * against: Weisfeiler-Lehman rounds as DataFrame joins, a window for the
  * automorphism tie-break, and one relabel join per requested role. Kept
  * verbatim (the `objSig` separator is spelled as an escape, the same
  * character); do not optimise it.
  */
object JoinCanonicalize {

  /** Relabel `_:` ids in `triples` and report how many WL refinement rounds
    * actually ran (0 when first-degree signatures separate every bnode — the
    * overwhelmingly common doc-scoped case; > 0 when signature collisions
    * forced neighbor-hash refinement). The count is known eagerly: the
    * fixpoint loop is driver-orchestrated, so it has executed by the time
    * this returns. j11 uses it as a self-check that its corpus really
    * exercises the refinement path.
    */
  def globalWithRounds(triples: Dataset[TripleRow], rounds: Int = 3, scoped: Boolean = true,
      relabelRoles: Set[String] = Canonicalize.AllRoles): (DataFrame, Int) = {
    val spark = triples.sparkSession
    import spark.implicits._
    val t = triples.toDF()
    val scopeCol = if (scoped) col("doc_id") else lit("")

    // Materialize the keyed triples ONCE: they are read again by the final
    // relabel joins (and the bnode-presence probe), and `triples` is usually
    // an un-cached expand pipeline — without this the full expansion re-runs
    // per consumer (measured: j02 paid the expand 2-3×). In the production
    // materializer the equivalent durable step is the staged parquet table;
    // localCheckpoint is the single-box query-shaped analog.
    val withKeys = t
      .withColumn("subj_key", when(col("subj").startsWith("_:"), concat(scopeCol, lit("|"), col("subj"))))
      .withColumn("obj_key", when(col("obj_kind") === "bnode", concat(scopeCol, lit("|"), col("obj_value"))))
      .withColumn("graph_key", when(col("graph").startsWith("_:"), concat(scopeCol, lit("|"), col("graph"))))
      .localCheckpoint(false)

    // hash-side dedup: labels must depend on the quad SET — a document
    // repeating an identical value emits the same triple twice, and the
    // duplicate signature would hash the same graph to different labels
    // than its deduplicated equivalent (mirrors BnodeCanon.canonicalize;
    // the relabel joins below still run over the un-deduped withKeys, so
    // output rows and counts are untouched). One extra exchange over the
    // bnode-adjacent subset only.
    val bnodeTriples = withKeys.filter(col("subj_key").isNotNull || col("obj_key").isNotNull || col("graph_key").isNotNull)
      .dropDuplicates()
    // no separate emptiness probe: the bnode-free fast path falls out of
    // firstCounts below (totalNodes == 0) — a standalone isEmpty executed
    // the dedup exchange once just to answer a question the round-0
    // aggregation answers anyway (measured: the probe alone was ~0.5 s of
    // j02's warm time, and one full corpus pass at scale)

    // directed incidence list: one row per (bnode, role) occurrence
    val objSig = concat_ws("\u0001", col("obj_kind"), col("obj_value"), col("obj_datatype"), col("obj_lang"))
    val inc = bnodeTriples.select(
      explode(array(
        struct(col("subj_key").as("node"), lit("s").as("role"), col("pred"),
          when(col("obj_key").isNotNull, lit(null).cast("string")).otherwise(objSig).as("other_lit"),
          col("obj_key").as("other_node"),
          when(col("graph_key").isNotNull, lit("_")).otherwise(col("graph")).as("g")),
        struct(col("obj_key").as("node"), lit("o").as("role"), col("pred"),
          when(col("subj_key").isNotNull, lit(null).cast("string")).otherwise(col("subj")).as("other_lit"),
          col("subj_key").as("other_node"),
          when(col("graph_key").isNotNull, lit("_")).otherwise(col("graph")).as("g")),
        struct(col("graph_key").as("node"), lit("g").as("role"), col("pred"),
          lit(null).cast("string").as("other_lit"), lit(null).cast("string").as("other_node"),
          lit("").as("g"))
      )).as("e"))
      .select("e.*")
      .filter(col("node").isNotNull)
    // NOT checkpointed: in the overwhelmingly common fixpoint-skip case the
    // incidence list is consumed exactly once (round-0 hashes), so
    // materializing it is pure cost — a full extra write+read of the
    // bnode-adjacent corpus at scale; when refinement rounds do run, each
    // recomputes a cheap explode+filter over the ALREADY-checkpointed keyed
    // triples instead. (Local sf0.1 wall time moves only ~5% — within host
    // drift — but the saved materialization is real at 100 TB.)

    // Scope-seeded node hash: the node key is "<scope>|<label>", and folding
    // the scope prefix into every hash separates structurally-identical
    // bnodes from DIFFERENT scopes at round 0. Without it, cross-doc
    // collisions (identical chain shapes repeated across documents — list
    // tails, boilerplate structures) force corpus-wide refinement rounds
    // whose count GROWS with corpus size; with it, refinement depth is
    // bounded by within-doc structure only. In global mode the scope prefix
    // is "" for every node — a no-op, so identical structures still merge.
    def nodeHash(sigs: org.apache.spark.sql.Column) =
      sha2(concat_ws("\u0000", substring_index(col("node"), "|", 1), sigs), 256)

    // round 0: first-degree signatures
    var hashes: DataFrame = inc
      .withColumn("sig", concat_ws("|", col("role"), col("pred"),
        coalesce(col("other_lit"), when(col("other_node").isNotNull, lit("_")), lit("")), col("g")))
      .groupBy("node")
      .agg(nodeHash(concat_ws("\n", sort_array(collect_list(col("sig"))))).as("h"))
    hashes = hashes.localCheckpoint(false)

    // refinement rounds: include neighbor hashes. Weisfeiler-Lehman-style
    // refinement is monotone in the number of distinct colors, so the loop
    // stops at the fixpoint (distinct-hash count unchanged) — one cheap
    // countDistinct per round instead of blindly paying every join pass at
    // corpus scale. `rounds` stays the hard cap for pathological graphs.
    val firstCounts = hashes.agg(countDistinct("h"), count(lit(1))).head()
    var distinctHashes = firstCounts.getLong(0)
    val totalNodes = firstCounts.getLong(1)
    // bnode-free corpus: no node ever hashed — identity relabeling
    if (totalNodes == 0) return (withKeys.drop("subj_key", "obj_key", "graph_key"), 0)
    // first-degree hashes already separate every node ⇒ refinement is the
    // identity — skip the join rounds entirely (the overwhelmingly common
    // case for doc-scoped bnodes; same skip as BnodeCanon.canonicalize)
    var converged = distinctHashes == totalNodes
    var r = 0
    // Materialized incidence list, built lazily on FIRST loop entry only: in
    // the common fixpoint-skip case `inc` is consumed exactly once (round-0
    // hashes) and materializing it would be pure cost (see the NOT-
    // checkpointed note above) — but once refinement runs, every round
    // otherwise re-derives `inc` from scratch INCLUDING the bnodeTriples
    // dropDuplicates exchange (DataFrame actions re-plan; shuffle output is
    // not reused across jobs). One checkpoint here turns `rounds` extra
    // dedup-shuffle+explode passes into one materialization + cheap reads.
    var incM: DataFrame = null
    while (r < rounds && !converged) {
      if (incM == null) incM = inc.localCheckpoint(false)
      val withNbr = incM.join(hashes.withColumnRenamed("node", "other_node").withColumnRenamed("h", "nbr_h"),
        Seq("other_node"), "left")
      hashes = withNbr
        .withColumn("sig", concat_ws("|", col("role"), col("pred"),
          coalesce(col("other_lit"), concat(lit("#"), col("nbr_h")), lit("")), col("g")))
        .groupBy("node")
        .agg(nodeHash(concat_ws("\n", sort_array(collect_list(col("sig"))))).as("h"))
      hashes = hashes.localCheckpoint(false)
      // stop at the WL fixpoint (count unchanged) OR at full separation
      // (count == nodes): refinement past either is the identity, and each
      // skipped round is a full corpus-scale join pass. The convergence
      // probe is itself a corpus-scale job, so it only runs when its answer
      // can still gate a round — when the cap binds (this was the last
      // permitted round) the answer is unused and the job is skipped.
      if (r + 1 < rounds) {
        val d = hashes.agg(countDistinct("h")).head().getLong(0)
        converged = d == distinctHashes || d == totalNodes
        distinctHashes = d
      }
      r += 1
    }

    // Deterministic tie-break for automorphic nodes + final content label.
    // NOTE (bug #23 scope): this orderBy(node) consults INPUT node keys, so
    // for WL-stable automorphic groups the corpus-scale labels are
    // deterministic but not isomorphism-invariant — unlike BnodeCanon,
    // which breaks such ties with budget-capped individualization-
    // refinement. Corpus-scale individualization would need a recursive
    // per-orbit join loop; ties are scoped per document (scope key), the
    // pipeline's bnode labels are themselves generator-deterministic, and
    // j02/j12 consume these labels only through within-mode comparisons,
    // so the label-dependence is bounded and documented rather than fixed.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("scope"), col("h")).orderBy(col("node"))
    val labeled = hashes
      .withColumn("scope", substring_index(col("node"), "|", 1))
      .withColumn("rank", row_number().over(w) - 1)
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("scope"), col("h"))))
      .withColumn("label", concat(lit("_:c"),
        substring(sha2(concat_ws("|", col("scope"), col("h"),
          when(col("n") > 1, col("rank").cast("string")).otherwise(lit(""))), 256), 1, 16)))
      .select(col("node"), col("label"))

    // relabel via one equi-join on the bnode key per REQUESTED role
    // (`labeled` is unique per node — one groupBy("node") row — so each left
    // join is provably non-expanding: row counts and all pass-through
    // columns are unchanged whether a role joins or skips)
    def roleJoin(df: DataFrame, role: String, key: String, lbl: String): DataFrame =
      if (relabelRoles(role))
        df.join(labeled.withColumnRenamed("node", key).withColumnRenamed("label", lbl), Seq(key), "left")
      else df.withColumn(lbl, lit(null).cast("string"))
    val relabeled = roleJoin(roleJoin(roleJoin(withKeys,
        "subj", "subj_key", "subj_label"),
        "obj", "obj_key", "obj_label"),
        "graph", "graph_key", "graph_label")
      .select(
        coalesce(col("subj_label"), col("subj")).as("subj"),
        col("pred"),
        col("obj_kind"),
        coalesce(col("obj_label"), col("obj_value")).as("obj_value"),
        col("obj_datatype"), col("obj_lang"),
        coalesce(col("graph_label"), col("graph")).as("graph"),
        col("doc_id"))
    (relabeled, r)
  }
}
