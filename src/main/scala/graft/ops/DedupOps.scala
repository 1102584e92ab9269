package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Hashing

/** Deduplication family for training-data pipelines. Every operator is a
  * shuffle-conscious DataFrame program:
  *  - exact: single groupBy on the text (or its 64-bit fingerprint at scale);
  *  - MinHash+LSH: shingle → per-band min-hash signature → band-bucket
  *    self-join (candidates only meet inside a bucket — never a cross join);
  *  - SimHash: 64-bit signature, banded into 4×16-bit exact-match blocks
  *    (any pair within Hamming distance 3 shares ≥1 block by pigeonhole);
  *  - n-gram Jaccard: exact verification on LSH candidates only.
  */
object DedupOps {

  /** Exact dedup grouping on raw text: simple and oracle-friendly, but the
    * shuffle carries every document byte — use [[exactByHash]] at scale.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup at scale: group on sha-256 of the content, so the shuffle
    * moves a 64-char key + id per row instead of the document bytes
    * (collision odds at 10^12 docs ≈ 10^-53 — the industry-standard
    * content-address trade). Same keep/count semantics as [[exact]].
    */
  def exactByHash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("text_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Character shingles of length k, as a distinct array. */
  private def shingles(text: Column, k: Int): Column = {
    val t = regexp_replace(lower(text), "\\s+", " ")
    array_distinct(filter(
      transform(sequence(lit(0), greatest(length(t) - k, lit(0))), i => t.substr(i + 1, lit(k))),
      s => length(s) === k))
  }

  /** One-pass JVM minhash over character shingles. A Catalyst
    * `transform`/`array_min` formulation is interpreted (higher-order
    * functions don't codegen) and gets inlined numHashes× per row — measured
    * minutes-vs-seconds at 5k docs. One scalar UDF pass per row is the
    * faster plan here, deliberately.
    */
  def minhashSigsJvm(text: String, k: Int, numHashes: Int): Array[Long] = {
    val t = text.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i + k <= t.length) {
      var h0 = 1125899906842597L
      var c = i
      while (c < i + k) { h0 = 31 * h0 + t.charAt(c); c += 1 }
      var j = 0
      while (j < numHashes) {
        val h = Hashing.splitmix64(h0 ^ (j.toLong * 0x9e3779b97f4a7c15L))
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    mins
  }

  /** MinHash signature column (delegates to the one-pass JVM kernel). */
  def minhashSignature(text: Column, k: Int = 5, numHashes: Int = 32): Column = {
    val f = udf((t: String) => if (t == null) Array.fill(numHashes)(Long.MaxValue) else minhashSigsJvm(t, k, numHashes))
    f(text)
  }

  /** MinHash+LSH near-dup candidate pairs with estimated Jaccard ≥ threshold.
    * bands × rowsPerBand = numHashes; a pair lands in a bucket iff one band
    * matches exactly. The band-bucket groupBy is the only shuffle.
    */
  def minhashLsh(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = 100
  ): DataFrame = {
    val rowsPerBand = numHashes / bands
    // materialize signatures ONCE: without the checkpoint boundary Catalyst
    // inlines the 32-hash expression into every band and into both sides of
    // the candidate self-join, recomputing shingles O(bands × pairs) times
    val sig = docs.select(col(idCol).as("id"), col(textCol).as("txt"),
      minhashSignature(col(textCol), k, numHashes).as("sig"))
      .localCheckpoint(false)
    val banded0 = sig.select(col("id"), col("sig"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)), lit(b))): _*)))
      .withColumnRenamed("col", "bucket").withColumnRenamed("pos", "band")
    // frequent-bucket skipping: a band bucket holding more than `maxBucket`
    // docs is non-discriminative (degenerate near-identical corpora would
    // otherwise turn the self-join into an all-pairs O(n^2) explosion —
    // the LSH analog of stopword removal)
    val bucketSizes = banded0.groupBy("band", "bucket").agg(count(lit(1)).as("bsz"))
    // NOT checkpointed, and not because of exchange reuse. The runtime (AQE
    // final) plans at sf0.1, plans/pr2/d04_minhash_lsh.txt and
    // plans/pr2/d05_simhash_pairs.txt, run the self-join as a
    // BroadcastHashJoin with no (band, bucket) shuffle: each side re-derives
    // the banded explode from the checkpointed `sig`. Their ReusedExchange
    // nodes are other broadcasts: d04's (id, text) lookup, d05's frequent-
    // bucket table. What justifies skipping a checkpoint of `banded` is the
    // round-6 builder A/B alone (OPTIMIZATION_r06.md: d04 1.99 → 1.21-1.28 s,
    // d05 1.05 → 0.62-0.86 s warm at sf0.1); the round-6 driver read d05 at
    // 0.832× (VERDICT.md), so that A/B is still open.
    val banded = banded0.join(broadcast(bucketSizes.filter(col("bsz") > maxBucket)),
      Seq("band", "bucket"), "left_anti")
    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"), col("sig").as("sig_b"))
    val pairs = a.join(b, Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .dropDuplicates("id_a", "id_b")
    val est = pairs.withColumn("est_jaccard",
      size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), (c: org.apache.spark.sql.Column) => c)).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
    // verification joins texts back by id — candidate texts only, never the
    // full corpus through the band shuffle
    val txt = sig.select(col("id"), col("txt"))
    val jaccJvm = udf((a: String, b: String) => jaccardJvm(a, b, k))
    est.join(txt.withColumnRenamed("id", "id_a").withColumnRenamed("txt", "txt_a"), Seq("id_a"))
      .join(txt.withColumnRenamed("id", "id_b").withColumnRenamed("txt", "txt_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        round(jaccJvm(col("txt_a"), col("txt_b")), 6).as("jaccard"))
  }

  /** Exact n-gram Jaccard between two text columns, as a Catalyst Column
    * program (HOF shingles). Kept as the ANSI-mirrorable formulation — the
    * d08 oracle replays it in DuckDB SQL; the hot verification path inside
    * [[minhashLsh]] uses [[jaccardJvm]] instead (interpreted-HOF tax).
    */
  def jaccard(a: Column, b: Column, k: Int = 5): Column = {
    val sa = shingles(a, k)
    val sb = shingles(b, k)
    val inter = size(array_intersect(sa, sb)).cast("double")
    inter / greatest(size(array_union(sa, sb)).cast("double"), lit(1.0))
  }

  /** One-pass JVM n-gram Jaccard — same normalization and shingle semantics
    * as [[jaccard]] (lowercase, whitespace collapsed to single spaces,
    * length-k character shingles, set semantics), but two hash sets instead
    * of four interpreted higher-order functions per pair. The verification
    * stage runs this over every candidate pair (tens of thousands at sf0.1,
    * unbounded at corpus scale), which made it the interpreted-HOF hot spot
    * after the signature stage moved to codegen.
    */
  def jaccardJvm(a: String, b: String, k: Int): Double = {
    def shingleSet(text: String): java.util.HashSet[String] = {
      // Locale.ROOT: default-locale toLowerCase diverges on tr/az JVMs
      // (dotless i), breaking parity with Catalyst lower()
      val t = text.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
      val s = new java.util.HashSet[String]()
      var i = 0
      while (i + k <= t.length) { s.add(t.substring(i, i + k)); i += 1 }
      s
    }
    if (a == null || b == null) return 0.0
    val sa = shingleSet(a)
    val sb = shingleSet(b)
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    val union = sa.size + sb.size - inter
    inter.toDouble / math.max(union.toDouble, 1.0)
  }

  /** One-pass JVM SimHash: per-bit majority vote over token hashes (same
    * interpreted-HOF rationale as minhashSigsJvm).
    */
  def simhashJvm(text: String): Long = {
    if (text == null) return 0L
    val votes = new Array[Int](64)
    var start = 0
    val t = text.toLowerCase(java.util.Locale.ROOT)
    val n = t.length
    var i = 0
    while (i <= n) {
      val boundary = i == n || !(t.charAt(i).isLetterOrDigit)
      if (boundary) {
        if (i > start) {
          var h = 1125899906842597L
          var c = start
          while (c < i) { h = 31 * h + t.charAt(c); c += 1 }
          h = Hashing.splitmix64(h)
          var b = 0
          while (b < 64) { votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1); b += 1 }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** 64-bit SimHash column (delegates to the one-pass JVM kernel). */
  def simhash(text: Column): Column = {
    val f = udf((t: String) => simhashJvm(t))
    f(text)
  }

  /** SimHash near-dup pairs within Hamming distance `maxHamming` (≤ 3 with 4
    * bands): candidates share one exact 16-bit band, then verified by
    * bit_count(xor).
    */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text", maxHamming: Int = 3,
      maxBucket: Int = 200): DataFrame = {
    // checkpoint: the 64-bit vote expression must not be inlined per band/pair
    val sig = docs.select(col(idCol).as("id"), simhash(col(textCol)).as("sh")).localCheckpoint(false)
    val banded0 = sig.select(col("id"), col("sh"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sh"), b * 16).bitwiseAND(lit(0xffffL))): _*)))
      .withColumnRenamed("col", "block").withColumnRenamed("pos", "band")
    // frequent-bucket skipping; not checkpointed, on the same measured A/B
    // (see minhashLsh)
    val bucketSizes = banded0.groupBy("band", "block").agg(count(lit(1)).as("bsz"))
    val banded = banded0.join(broadcast(bucketSizes.filter(col("bsz") > maxBucket)),
      Seq("band", "block"), "left_anti")
    val a = banded.select(col("band"), col("block"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band"), col("block"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band", "block")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming")).distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The verification stage of [[embeddingNearDup]] in isolation: score each
    * candidate pair (id_a, id_b, vec_a, vec_b) with the codegen'd cosine and
    * keep pairs at or above `threshold`. Factored out so the cosine+threshold
    * math is DuckDB-oracleable over an ANSI-expressible candidate set
    * (SparkEntry e06) while the LSH candidate generation stays
    * engine-internal.
    */
  def verifyNearDup(cand: DataFrame, threshold: Double): DataFrame =
    cand.withColumn("cosine", round(SimilarityOps.cosine(col("vec_a"), col("vec_b")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")

  /** Embedding cosine near-dup: normalized dot product ≥ threshold, over
    * LSH-bucketed candidates (random-hyperplane signs; see SimilarityOps).
    */
  def embeddingNearDup(embeddings: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95, planes: Int = 12, maxBucket: Int = 1000, tables: Int = 4): DataFrame =
    verifyNearDup(
      SimilarityOps.lshCandidates(embeddings, idCol, vecCol, planes, maxBucket, tables), threshold)
}
