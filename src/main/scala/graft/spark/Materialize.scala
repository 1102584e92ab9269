package graft.spark

import java.util.concurrent.{Callable, ExecutionException, Executors, Future => JFuture}
import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

/** Checkpoint-resumable graph materialization with per-bucket lineage +
  * metrics (north_rule). Storage abstraction: parquet in-sandbox; the same
  * writes go to Iceberg (`df.writeTo(table).append()`) in production — only
  * this object touches storage.
  *
  * An `outDir` holds a bucketed run ([[run]]) or a stream
  * ([[StreamingPipeline.materializeStream]]), never both: each refuses an
  * `outDir` that holds the other's lineage table. A bucketed run's layout:
  *   staging_b{K}/bucket=N/  bucketed source docs (written once, partition-pruned per-bucket reads)
  *   triples/bucket=N/   triples of bucket N, one row per (triple, doc)
  *   errors/bucket=N/    expansion error channel
  *   lineage/            one row per committed bucket (counts, wall time)
  * A stream's layout:
  *   errors|triples/batch=N/  the same two channels of micro-batch N
  *   stream_lineage/     one row per completed micro-batch, `bucket` = batch id
  *
  * A bucket and a micro-batch are both units of one writer, [[writeUnit]].
  * A unit is committed exactly when its lineage row exists.
  *
  * Resume: committed buckets are read from lineage and skipped (the
  * coarse-grained equivalent of a `left_anti` on completed doc_ids — bucket
  * granularity keeps the resume check O(buckets), not O(docs), at 10^12 docs).
  * `docs` is read only when no unit is committed: a resume reads the staged
  * corpus, and only with the bucket count it was staged with. A fresh run
  * (no lineage row) first deletes the uncommitted `triples/` and `errors/`.
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
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Fails if `outDir` holds `lineage`, the other layout's lineage table. */
  private[spark] def refuseOtherLayout(spark: SparkSession, outDir: String, lineage: String): Unit =
    if (pathExists(spark, s"$outDir/$lineage"))
      throw new IllegalArgumentException(s"$outDir already holds $lineage/: a bucketed run (lineage/) " +
        "and a stream (stream_lineage/) need separate outDirs")

  /** Ids of the committed units, from one collected read of the `bucket`
    * column of the lineage table at `path` (one row per commit, so O(units)).
    */
  private[spark] def committedUnits(spark: SparkSession, path: String): Set[Int] =
    if (!pathExists(spark, path)) Set.empty
    else spark.read.schema(lineageSchema).parquet(path).select("bucket").collect().map(_.getInt(0)).toSet

  /** Schemas of this object's own tables. Reading with them skips the
    * footer-inference job each schema-less `spark.read.parquet` runs.
    */
  private[spark] def stagedSchema(docs: StructType): StructType = docs.add("bucket", IntegerType)
  private[spark] val lineageSchema: StructType = Encoders.product[PartitionLineage].schema
  private[spark] val triplesSchema: StructType = Encoders.product[TripleRow].schema.add("bucket", IntegerType)

  /** Most buckets in flight at once, whatever the cluster's size, so that
    * at most `MaxWindow` ÷ `buckets` of the expanded corpus is cached.
    */
  private val MaxWindow = 8

  /** Buckets in flight at once: two per core of the session
    * (`defaultParallelism`), at most [[MaxWindow]] and at most the pending
    * ones. A bucket's work is mostly driver-side Spark job overhead, and its
    * expand runs as one task per staged file, so one bucket per core leaves
    * cores idle. Measured on one 4-core host only (`local[4]`, 2–5 runs per
    * window): `graft.Main`'s 16 buckets took a median wall of 29.0 s one
    * bucket at a time, 21.4–22.5 s with windows of 3, 4 and 6, 20.7 s with
    * 8 and 22.7 s with 16; windows 3 to 8 are not told apart by those runs.
    */
  private def windowSize(spark: SparkSession, pending: Int): Int =
    math.max(1, pending min 2 * spark.sparkContext.defaultParallelism min MaxWindow)

  /** Unit `<kind>=<id>`'s writes (a bucket of [[run]], a micro-batch of
    * [[StreamingPipeline.materializeStream]]), and the lineage row that
    * will commit them: `docs` are expanded once into a cached dataset,
    * then `errors/<unit>` and `triples/<unit>` (distinct rows: one per
    * (triple, doc)) are written, both `Overwrite`, so a redone unit
    * replaces its earlier writes.
    * `betweenWrites` runs after the errors write and before the triples
    * write.
    */
  private[spark] def writeUnit(
      docs: Dataset[Doc],
      ctxB: Broadcast[Map[String, String]],
      outDir: String,
      kind: String,
      id: Int,
      betweenWrites: () => Unit = () => ()
  ): PartitionLineage = {
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
    val rows = ExpandStage.run(docs.observe(docsSeen, count(lit(1)).as("n")), ctxB).cache()
    try {
      ExpandStage.errors(rows).observe(errorsWritten, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/errors/$kind=$id")
      betweenWrites()
      ExpandStage.triples(rows).distinct()
        .observe(triplesWritten, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/triples/$kind=$id")
    } finally rows.unpersist()
    def n(o: Observation) = o.get("n").asInstanceOf[Long]
    PartitionLineage(id, n(docsSeen), n(triplesWritten), n(errorsWritten), (System.nanoTime() - t0) / 1000000)
  }

  /** Run the full pipeline over `docs`. Each pending bucket is expanded
    * (partition-local), deduplicated and written; then its lineage row
    * commits it.
    *
    * An `outDir` holds one staged run. While `lineage/` has no row, the
    * call deletes `triples/` and `errors/`, whose units no row commits, and
    * stages `docs` to `staging_b<buckets>/` (`Overwrite`). Once it has one,
    * the call is a resume: it skips the committed buckets, reads the staged
    * corpus, never the rows of `docs`, and fails before writing anything
    * when no corpus was staged with `buckets` buckets.
    *
    * Buckets overlap. A window of P pending buckets runs on a thread pool
    * that this call creates and shuts down; P is [[windowSize]], two per
    * core and at most [[MaxWindow]]. Lineage rows are appended by the
    * calling thread **in bucket order**: bucket b commits only after every
    * lower pending bucket has committed, and each commit submits the next
    * pending bucket. So a crash never leaves a committed bucket above an
    * uncommitted one.
    *
    * Memory bound: an in-flight bucket holds its expanded rows cached
    * (`MEMORY_AND_DISK`) until its writes end, so at most P ÷ `buckets` of
    * the expanded corpus is cached at once, and P ≤ [[MaxWindow]] on any
    * cluster. With P or fewer pending buckets, that is all of them.
    *
    * Failure: the first failure in bucket order stops new submissions. The
    * buckets still in flight run to their end, nothing at or above the
    * failed bucket is committed, the pool's threads are joined, and the
    * failure is rethrown. No Spark job and no pool thread outlives the
    * call. A bucket whose data was written but not its lineage is redone
    * on resume; its writes are `Overwrite`.
    *
    * Pool threads are created by this call from the calling thread, so they
    * inherit its Spark local properties (job group, job tags).
    *
    * `failAtBucket` injects a crash inside bucket b's work, after its errors
    * are written and before its triples are: after it, exactly the pending
    * buckets below b are done.
    */
  def run(
      docs: Dataset[Doc],
      outDir: String,
      buckets: Int = 8,
      failAtBucket: Option[Int] = None
  ): RunReport = {
    require(buckets >= 1, s"buckets must be at least 1, got $buckets")
    val spark = docs.sparkSession
    import spark.implicits._
    refuseOtherLayout(spark, outDir, "stream_lineage")
    val done = committedUnits(spark, s"$outDir/lineage")
    val stagingDir = s"$outDir/staging_b$buckets"
    if (done.isEmpty) {
      val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("triples", "errors").foreach(channel => fs.delete(new Path(s"$outDir/$channel"), true))
      docs.withColumn("bucket", bucketOf(buckets))
        .repartition(col("bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(stagingDir)
    } else if (!pathExists(spark, s"$stagingDir/_SUCCESS"))
      throw new IllegalArgumentException(s"$outDir holds a run staged with another bucket count than " +
        s"$buckets, or its staging is gone: resume it with its own bucket count, or use a fresh outDir")
    val staged = spark.read.schema(stagedSchema(docs.schema)).parquet(stagingDir)
    val ctxB = spark.sparkContext.broadcast(RemoteContextPool.pool)

    def work(b: Int): PartitionLineage =
      writeUnit(staged.filter(col("bucket") === b).drop("bucket").as[Doc], ctxB, outDir, "bucket", b,
        () => if (failAtBucket.contains(b)) throw new RuntimeException(s"injected failure at bucket $b"))

    val todo = (0 until buckets).filterNot(done)
    val pending = todo.iterator
    val window = windowSize(spark, todo.size)
    val threads = mutable.ArrayBuffer.empty[Thread]
    val pool = Executors.newFixedThreadPool(window, (r: Runnable) => threads.synchronized {
      val t = new Thread(r, s"graft-materialize-${threads.size}")
      t.setDaemon(true)
      threads += t
      t
    })
    val inFlight = mutable.Queue.empty[JFuture[PartitionLineage]]
    def submit(): Unit = if (pending.hasNext) {
      val b = pending.next()
      inFlight.enqueue(pool.submit(new Callable[PartitionLineage] { def call(): PartitionLineage = work(b) }))
    }
    var totalTriples = 0L
    var totalErrors = 0L
    try {
      (0 until window).foreach(_ => submit())
      while (inFlight.nonEmpty) {
        val row = try inFlight.dequeue().get() catch { case e: ExecutionException => throw e.getCause }
        Seq(row).toDS().write.mode(SaveMode.Append).parquet(s"$outDir/lineage")
        totalTriples += row.triple_count
        totalErrors += row.error_count
        submit()
      }
    } finally {
      // Running buckets finish; the threads then exit, as nothing is queued.
      pool.shutdown()
      threads.synchronized(threads.toList).foreach(_.join())
    }
    RunReport(buckets, todo.size, done.size, totalTriples, totalErrors)
  }

  /** Cross-bucket global dedup → final graph table. Group keys contain subj —
    * high cardinality, so the rdf:type hot predicate does NOT skew this
    * shuffle; AQE coalesces output partitions. Units hold one row per
    * (triple, doc), so `support` counts a triple's docs and `first_doc` is
    * the least of them, whatever the bucket count. It reads every unit under
    * `triples/`, committed or not, so it belongs after [[run]] has returned.
    */
  def finalizeGraph(spark: SparkSession, outDir: String): DataFrame = {
    val all = spark.read.schema(triplesSchema).parquet(s"$outDir/triples")
    val graph = all.groupBy("subj", "pred", "obj_kind", "obj_value", "obj_datatype", "obj_lang", "graph")
      .agg(min("doc_id").as("first_doc"), count(lit(1)).as("support"))
    graph.write.mode(SaveMode.Overwrite).parquet(s"$outDir/graph")
    spark.read.schema(graph.schema).parquet(s"$outDir/graph")
  }
}
