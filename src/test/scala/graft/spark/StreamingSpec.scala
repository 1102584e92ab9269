package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streaming expand: docs stream → triples stream → watermarked windowed predicate counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingPipeline.TimedDoc]
    val ctxB = spark.sparkContext.broadcast(RemoteContextPool.pool)
    val triples = StreamingPipeline.expandStream(input.toDS(), ctxB)
    val rates = StreamingPipeline.predicateRates(triples, watermark = "1 minute", window = "1 minute")
    val q = rates.writeStream.outputMode("update").format("memory").queryName("pred_rates").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:10")
      input.addData((0L until 50L).map(i => StreamingPipeline.TimedDoc(SyntheticDocs.generateDoc(i), t0)))
      q.processAllAvailable()
      val rows = spark.table("pred_rates").collect()
      assert(rows.nonEmpty)
      val total = rows.map(_.getAs[Long]("n")).sum
      assert(total > 100, s"expected >100 triples in window counts, got $total")
      // second micro-batch accumulates into the same window
      input.addData(Seq(StreamingPipeline.TimedDoc(SyntheticDocs.generateDoc(999L), t0)))
      q.processAllAvailable()
      val total2 = spark.table("pred_rates").collect().map(_.getAs[Long]("n")).sum
      assert(total2 >= total)
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped from windowed predicate counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingPipeline.TimedDoc]
    val ctxB = spark.sparkContext.broadcast(RemoteContextPool.pool)
    val triples = StreamingPipeline.expandStream(input.toDS(), ctxB)
    val rates = StreamingPipeline.predicateRates(triples, watermark = "10 seconds", window = "1 minute")
    val q = rates.writeStream.outputMode("append").format("memory").queryName("late_rates").start()
    try {
      val early = java.sql.Timestamp.valueOf("2026-01-01 00:00:10")
      val late = java.sql.Timestamp.valueOf("2026-01-01 00:10:00")
      input.addData(Seq(StreamingPipeline.TimedDoc(SyntheticDocs.generateDoc(1L), early)))
      q.processAllAvailable()
      // advance the watermark far past the first window...
      input.addData(Seq(StreamingPipeline.TimedDoc(SyntheticDocs.generateDoc(2L), late)))
      q.processAllAvailable()
      val closed = spark.table("late_rates").collect().map(_.getAs[Long]("n")).sum
      assert(closed > 0, "first window should have closed and emitted in append mode")
      // ...then a doc far behind the watermark: its rows must be discarded
      input.addData(Seq(StreamingPipeline.TimedDoc(SyntheticDocs.generateDoc(3L), early)))
      q.processAllAvailable()
      input.addData(Seq(StreamingPipeline.TimedDoc(SyntheticDocs.generateDoc(4L), late)))
      q.processAllAvailable()
      val after = spark.table("late_rates").collect()
        .filter(_.getAs[org.apache.spark.sql.Row]("window")
          .getAs[java.sql.Timestamp]("start").before(java.sql.Timestamp.valueOf("2026-01-01 00:05:00")))
        .map(_.getAs[Long]("n")).sum
      assert(after == closed, s"late rows leaked into the closed window: $closed -> $after")
    } finally q.stop()
  }

  test("subjectFragments: custom flatMapGroupsWithState sessionization emits once per subject on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingPipeline.TimedDoc]
    val ctxB = spark.sparkContext.broadcast(RemoteContextPool.pool)
    val triples = StreamingPipeline.expandStream(input.toDS(), ctxB)
    val frags = StreamingPipeline.subjectFragments(triples, watermark = "1 second", gapMs = 5000L)
    val q = frags.writeStream.outputMode("append").format("memory").queryName("subj_frags").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:10")
      val later = java.sql.Timestamp.valueOf("2026-01-01 00:10:00")
      input.addData(Seq(
        StreamingPipeline.TimedDoc(SyntheticDocs.generateDoc(1L), t0),
        StreamingPipeline.TimedDoc(SyntheticDocs.generateDoc(2L), t0)))
      q.processAllAvailable()
      assert(spark.table("subj_frags").isEmpty, "nothing should emit before the gap passes")
      // push the watermark far past last-seen + gap, then one more batch so
      // the timed-out state is swept
      input.addData(Seq(StreamingPipeline.TimedDoc(SyntheticDocs.generateDoc(3L), later)))
      q.processAllAvailable()
      input.addData(Seq(StreamingPipeline.TimedDoc(SyntheticDocs.generateDoc(4L), later)))
      q.processAllAvailable()
      val rows = spark.table("subj_frags").collect()
      assert(rows.nonEmpty, "timed-out subjects should have emitted fragments")
      // one fragment per subject, counts positive, pred cardinality sane
      val bySubj = rows.groupBy(_.getAs[String]("subj"))
      assert(bySubj.values.forall(_.length == 1), "a subject emitted more than one fragment")
      rows.foreach { r =>
        assert(r.getAs[Long]("n_triples") > 0)
        assert(r.getAs[Int]("n_preds") > 0)
        assert(r.getAs[Long]("first_ms") <= r.getAs[Long]("last_ms"))
      }
    } finally q.stop()
  }

  private val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:10")

  private def newInput(): MemoryStream[StreamingPipeline.TimedDoc] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    MemoryStream[StreamingPipeline.TimedDoc]
  }

  /** One materializeStream query on `outDir` reading `input`: each element
    * of `batches` is added as one micro-batch and processed before the
    * next. A restart passes the source of the query it restarts.
    */
  private def materialize(outDir: String, batches: Seq[Seq[Doc]],
      input: MemoryStream[StreamingPipeline.TimedDoc] = newInput()): Unit = {
    val ctxB = spark.sparkContext.broadcast(RemoteContextPool.pool)
    val q = StreamingPipeline.materializeStream(input.toDS(), ctxB, outDir)
    try batches.foreach { docs =>
      input.addData(docs.map(StreamingPipeline.TimedDoc(_, t0)))
      q.processAllAvailable()
    } finally q.stop()
  }

  private def docs(ids: Long*): Seq[Doc] = ids.map(SyntheticDocs.generateDoc)

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) { val fs = f.listFiles; if (fs != null) fs.foreach(rm) }
    f.delete(); ()
  }

  private def lineage(outDir: String): Seq[PartitionLineage] = {
    import spark.implicits._
    spark.read.parquet(s"$outDir/stream_lineage").as[PartitionLineage].collect().sortBy(_.bucket).toSeq
  }

  test("materializeStream: durable per-batch triple sink with idempotent lineage gating") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-stream-mat").toString
    materialize(outDir, Seq(docs(0L until 20L: _*), docs(99L)))
    def triples(batch: Int) =
      spark.read.parquet(s"$outDir/triples/batch=$batch").collect().map(_.toString).sorted.toSeq
    val written = spark.read.parquet(s"$outDir/triples").count()
    assert(written > 0)
    val first = lineage(outDir)
    assert(first.map(_.bucket) == Seq(0, 1))
    assert(first.map(_.triple_count).sum == written)
    assert(first.map(_.doc_count).sum == 21L)
    val before = Seq(triples(0), triples(1))
    // a restart without the streaming checkpoint would replay batch ids 0
    // and 1 with other docs, which the gate would drop: it is refused
    // before anything is written
    rm(new java.io.File(s"$outDir/_checkpoints"))
    val e = intercept[IllegalArgumentException] {
      materialize(outDir, Seq(docs(200L), docs(201L), docs(100L)))
    }
    assert(e.getMessage.contains(outDir), e.getMessage)
    assert(Seq(triples(0), triples(1)) == before)
    assert(lineage(outDir) == first)
    assert(spark.read.parquet(s"$outDir/triples").count() == written)
  }

  test("materializeStream skips a replayed batch whose lineage row exists") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-stream-replay").toString
    val input = newInput()
    materialize(outDir, Seq(docs(0L until 5L: _*), docs(5L, 6L)), input)
    val first = lineage(outDir)
    assert(first.map(_.bucket) == Seq(0, 1))
    // a crash after batch 1's lineage commit but before the checkpoint's
    // commit: the restart replays batch 1 with the same docs, and the gate
    // skips it, so no second row commits it
    val commit = new java.io.File(s"$outDir/_checkpoints/commits/1")
    assert(commit.delete())
    new java.io.File(s"$outDir/_checkpoints/commits/.1.crc").delete()
    val q = StreamingPipeline.materializeStream(input.toDS(), spark.sparkContext.broadcast(RemoteContextPool.pool),
      outDir)
    try q.processAllAvailable() finally q.stop()
    assert(commit.exists(), "batch 1 was not replayed")
    assert(lineage(outDir) == first)
  }

  test("materializeStream reads stream_lineage once per call, not once per batch") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val outDir = java.nio.file.Files.createTempDirectory("graft-stream-scans").toString
    val scans = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.optimizedPlan.exists {
          case l: LogicalRelation => l.relation match {
            case r: HadoopFsRelation => r.location.rootPaths.exists(_.getName == "stream_lineage")
            case _ => false
          }
          case _ => false
        }) scans.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val input = newInput()
    def scansOf(batches: Seq[Seq[Doc]]): Int = {
      scans.set(0)
      materialize(outDir, batches, input)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      scans.get()
    }
    spark.listenerManager.register(listener)
    try {
      // a fresh outDir has no lineage table to read
      assert(scansOf(Seq(docs(1L), docs(2L), docs(3L))) == 0)
      // a restart from the checkpoint reads it once, however many batches
      // follow: ids 3-7 commit
      assert(scansOf(Seq(docs(4L), docs(5L), docs(6L), docs(7L), docs(8L))) == 1)
    } finally spark.listenerManager.unregister(listener)
    assert(lineage(outDir).map(_.bucket) == (0 to 7))
    // outDir deleted and recreated in the same JVM: no committed id
    // outlives the directory, so the new run's batch 0 commits
    rm(new java.io.File(outDir))
    materialize(outDir, Seq(docs(9L)))
    assert(lineage(outDir).map(l => (l.bucket, l.doc_count)) == Seq((0, 1L)))
    assert(spark.read.parquet(s"$outDir/triples/batch=0").count() == lineage(outDir).head.triple_count)
  }

  test("materializeStream writes a streamed span's DocError to errors/batch=N and counts it in lineage") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-stream-errors").toString
    val good = Doc("doc-good", Seq(Span("jsonld", """{"@id":"http://s/1","http://p/x":"o"}""", null, 0)))
    val bad = Doc("doc-bad", Seq(Span("jsonld", """{"@id":"http://s/2","http://p/x":""", null, 3)))
    materialize(outDir, Seq(Seq(good, bad)))
    val errors = spark.read.parquet(s"$outDir/errors/batch=0").collect()
    assert(errors.map(r => (r.getAs[String]("doc_id"), r.getAs[Int]("span_offset"))).toSeq == Seq(("doc-bad", 3)))
    val triples = spark.read.parquet(s"$outDir/triples/batch=0").collect()
    assert(triples.map(_.getAs[String]("subj")).toSet == Set("http://s/1"))
    val l = lineage(outDir)
    assert(l.map(r => (r.bucket, r.doc_count, r.triple_count, r.error_count)) == Seq((0, 2L, 1L, 1L)))
  }

  test("a bucketed run and a stream refuse each other's outDir") {
    val bucketed = java.nio.file.Files.createTempDirectory("graft-mixed-bucketed").toString
    Materialize.run(SyntheticDocs.generate(spark, 20, 2), bucketed, buckets = 2)
    val toStream = intercept[IllegalArgumentException] { materialize(bucketed, Seq(docs(1L))) }
    assert(toStream.getMessage.contains(s"$bucketed already holds lineage/"), toStream.getMessage)
    assert(!new java.io.File(s"$bucketed/_checkpoints").exists, "the stream started")
    assert(Materialize.finalizeGraph(spark, bucketed).count() > 0)

    val streamed = java.nio.file.Files.createTempDirectory("graft-mixed-streamed").toString
    materialize(streamed, Seq(docs(1L)))
    val toBuckets = intercept[IllegalArgumentException] {
      Materialize.run(SyntheticDocs.generate(spark, 20, 2), streamed, buckets = 2)
    }
    assert(toBuckets.getMessage.contains(s"$streamed already holds stream_lineage/"), toBuckets.getMessage)
    assert(new java.io.File(streamed).list().toSet == Set("_checkpoints", "errors", "stream_lineage", "triples"))
  }

  test("streaming dedup drops in-horizon duplicates with bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingPipeline.TimedDoc]
    val deduped = StreamingPipeline.dedupStream(input.toDS(), watermark = "1 minute")
    val q = deduped.writeStream.outputMode("append").format("memory").queryName("dedup_stream").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:10")
      val d1 = SyntheticDocs.generateDoc(1L)
      val d2 = SyntheticDocs.generateDoc(2L)
      input.addData(Seq(
        StreamingPipeline.TimedDoc(d1, t0),
        StreamingPipeline.TimedDoc(d1.copy(doc_id = "dup-of-1"), t0), // same content, new id
        StreamingPipeline.TimedDoc(d2, t0)))
      q.processAllAvailable()
      // duplicate content within the horizon: only one survivor per hash
      val ids = spark.table("dedup_stream").select("doc_id").as[String].collect().toSet
      assert(ids.size == 2, s"expected 2 unique docs, got $ids")
      assert(ids.contains(d2.doc_id))
      assert(ids.contains(d1.doc_id) ^ ids.contains("dup-of-1"))
    } finally q.stop()
  }
}
