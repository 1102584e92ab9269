package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint-resumable graph materialization with per-bucket lineage +
  * metrics (north_rule). Storage abstraction: parquet in-sandbox; the same
  * writes go to Iceberg (`df.writeTo(table).append()`) in production — only
  * this object touches storage.
  *
  * Layout under `outDir`:
  *   staging_b{K}/bucket=N/  bucketed source docs (written once, partition-pruned per-bucket reads)
  *   triples/bucket=N/   deduplicated triples of bucket N
  *   errors/bucket=N/    expansion error channel
  *   lineage/            one row per completed bucket (status, counts, attempt)
  *
  * Resume: completed buckets are read from lineage and skipped (the
  * coarse-grained equivalent of a `left_anti` on completed doc_ids — bucket
  * granularity keeps the resume check O(buckets), not O(docs), at 10^12 docs).
  *
  * Lineage counts come from the bucket's own writes: `doc_count`,
  * `triple_count` and `error_count` are `Dataset.observe` metrics collected
  * while the errors and triples are written. No output is re-read and no
  * input re-counted.
  *
  * Remote contexts: the vendored [[RemoteContextPool.pool]] is broadcast
  * whole, as everywhere else the engine runs, so html and jsonld spans see
  * the same contexts and no corpus scan runs.
  */
object Materialize {

  final case class RunReport(buckets: Int, processed: Int, skipped: Int, triples: Long, errors: Long)

  def bucketOf(buckets: Int) = pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int")

  /** Existence check through the Hadoop FileSystem for the path's scheme —
    * java.io.File is local-FS-only and silently reports false on HDFS/S3,
    * which would rewrite staging (and ignore lineage) every run.
    */
  private[spark] def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Session-stable fingerprint of the input's ANALYZED plan: the plan
    * string with per-session artifacts stripped (expression ids `#123`,
    * lambda class ids, object identity hashes), hashed. The plan's
    * semanticHash is NOT usable here — it differs across spark-submit
    * sessions for the identical logical input (measured: two submits of the
    * same 1M-doc job produced two staging dirs), which silently defeats
    * cross-run staging reuse. Covers source paths/shape without scanning
    * data; an in-place rewrite of the same source path still escapes it —
    * use a fresh outDir (run id) for that case.
    */
  private[spark] def inputFingerprint(docs: Dataset[Doc]): String = {
    val normalized = docs.queryExecution.analyzed.toString
      .replaceAll("#\\d+", "")
      .replaceAll("\\$\\$Lambda\\$\\d+(/0x[0-9a-fA-F]+)?", "\\$\\$Lambda")
      .replaceAll("@[0-9a-fA-F]+", "")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(normalized.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }

  /** Done buckets and the highest attempt per bucket, from one collected
    * read of `lineage/` (one row per bucket commit, so O(buckets)).
    */
  private def lineageState(spark: SparkSession, outDir: String): (Set[Int], Map[Int, Int]) = {
    if (!pathExists(spark, s"$outDir/lineage")) (Set.empty, Map.empty)
    else {
      import spark.implicits._
      val rows = spark.read.parquet(s"$outDir/lineage")
        .select("bucket", "status", "attempt").as[(Int, String, Int)].collect()
      (rows.collect { case (b, "done", _) => b }.toSet,
        rows.groupMapReduce(_._1)(_._3)(math.max))
    }
  }

  /** Run the full pipeline over `docs`, bucket by bucket. `failAtBucket`
    * injects a crash (resume test). Within a bucket: expand (partition-local)
    * → dedup → write; each bucket commit is atomic enough for resume (lineage
    * row written only after the data write succeeds).
    */
  def run(
      docs: Dataset[Doc],
      outDir: String,
      buckets: Int = 8,
      resume: Boolean = true,
      failAtBucket: Option[Int] = None
  ): RunReport = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (completed, attempts) = lineageState(spark, outDir)
    val done = if (resume) completed else Set.empty[Int]
    val ctxB = spark.sparkContext.broadcast(RemoteContextPool.pool)

    // Stage the bucketed corpus once, partitioned BY bucket: per-bucket reads
    // below are partition-pruned scans (only bucket=N files touched), and a
    // resumed run re-reads staging instead of recomputing the bucketing.
    // (An earlier formulation used .cache() — at 10^12 docs that pins the
    // whole corpus in executor memory/disk and dies with any executor; a
    // staged table is the durable equivalent. Bucket count AND an input
    // fingerprint are part of the path, so a re-run with a different bucket
    // count or a different input never silently resolves to stale staging.)
    val stagingDir = s"$outDir/staging_b${buckets}_${inputFingerprint(docs)}"
    if (!pathExists(spark, s"$stagingDir/_SUCCESS")) {
      docs.withColumn("bucket", bucketOf(buckets))
        .repartition(col("bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(stagingDir)
    }
    val staged = spark.read.parquet(stagingDir)
    var totalTriples = 0L
    var totalErrors = 0L
    var processed = 0
    locally {
      for (b <- 0 until buckets if !done.contains(b)) {
        if (failAtBucket.contains(b)) throw new RuntimeException(s"injected failure at bucket $b")
        val t0 = System.nanoTime()
        // Lineage counts are Observations, each fulfilled by the first query
        // that reports it:
        // - doc_count is observed under rows.cache(), in the cached plan
        //   (CollectMetricsExec.collect follows InMemoryTableScanExec into
        //   it). The errors write goes first and has no shuffle, so it builds
        //   the cache and counts the docs in its result stage.
        // - error_count and triple_count are observed directly under their
        //   writes, in those writes' result stages.
        // Spark merges a result task's accumulator updates once per partition
        // (a map task's on every successful attempt), so a retried map stage
        // cannot double any of the three.
        val docsSeen, triplesWritten, errorsWritten = Observation()
        val bucketDocs = staged.filter(col("bucket") === b).drop("bucket").as[Doc]
          .observe(docsSeen, count(lit(1)).as("n"))
        val rows = ExpandStage.run(bucketDocs, ctxB).cache()
        val triples = ExpandStage.triples(rows)
          .dropDuplicates("subj", "pred", "obj_kind", "obj_value", "obj_datatype", "obj_lang", "graph")
        val errors = ExpandStage.errors(rows)
        errors.observe(errorsWritten, count(lit(1)).as("n"))
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/errors/bucket=$b")
        triples.observe(triplesWritten, count(lit(1)).as("n"))
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/triples/bucket=$b")
        rows.unpersist()
        def n(o: Observation) = o.get("n").asInstanceOf[Long]
        val (dc, tc, ec) = (n(docsSeen), n(triplesWritten), n(errorsWritten))
        val lineage = Seq(PartitionLineage(b, dc, tc, ec, "done",
          attempts.getOrElse(b, 0) + 1, (System.nanoTime() - t0) / 1000000)).toDS()
        lineage.write.mode(SaveMode.Append).parquet(s"$outDir/lineage")
        totalTriples += tc
        totalErrors += ec
        processed += 1
      }
    }
    RunReport(buckets, processed, done.size, totalTriples, totalErrors)
  }

  /** Cross-bucket global dedup → final graph table. Group keys contain subj —
    * high cardinality, so the rdf:type hot predicate does NOT skew this
    * shuffle; AQE coalesces output partitions.
    */
  def finalizeGraph(spark: SparkSession, outDir: String): DataFrame = {
    val all = spark.read.parquet(s"$outDir/triples")
    val graph = all.groupBy("subj", "pred", "obj_kind", "obj_value", "obj_datatype", "obj_lang", "graph")
      .agg(min("doc_id").as("first_doc"), count(lit(1)).as("support"))
    graph.write.mode(SaveMode.Overwrite).parquet(s"$outDir/graph")
    spark.read.parquet(s"$outDir/graph")
  }
}
