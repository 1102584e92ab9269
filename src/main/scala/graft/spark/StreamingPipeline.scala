package graft.spark

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.JsonLdOptions

/** Structured Streaming lift of the expansion stage. The per-document engine
  * is stateless (SURVEY.md §2.2: "expansion is a stateless mapPartitions, so
  * it lifts to Structured Streaming mechanically") — the same typed transform
  * runs unchanged on a streaming Dataset[Doc]; watermark + windowed
  * aggregation give per-predicate rates with late-data tolerance.
  */
object StreamingPipeline {

  final case class TimedDoc(doc: Doc, ingest_ts: java.sql.Timestamp)

  /** streaming Dataset[TimedDoc] → streaming triples with event time: the
    * triple channel that [[predicateRates]] and [[subjectFragments]]
    * aggregate. [[materializeStream]] is the sink that writes both
    * channels, errors included.
    */
  def expandStream(
      docs: Dataset[TimedDoc],
      resolvedContexts: Broadcast[Map[String, String]]
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val aliases = ExpandStage.aliasDictionary
    docs.mapPartitions { it =>
      val loader = RemoteContextPool.loaderFor(resolvedContexts.value)
      val state = new graft.core.ApiState(JsonLdOptions(), loader)
      it.flatMap { td =>
        val (ts, _) = ExpandStage.expandDoc(td.doc, state, aliases)
        ts.iterator.map(t => (td.ingest_ts, t))
      }
    }.toDF("ingest_ts", "triple")
      .select(col("ingest_ts"), col("triple.*"))
  }

  /** Windowed per-predicate triple counts with a watermark: late rows beyond
    * the watermark are dropped; state is bounded by (window × predicates).
    */
  def predicateRates(triples: DataFrame, watermark: String = "10 seconds", window: String = "5 seconds"): DataFrame =
    triples
      .withWatermark("ingest_ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ingest_ts"), window), col("pred"))
      .agg(count(lit(1)).as("n"))

  final case class SubjectFragment(subj: String, n_triples: Long, n_preds: Int,
      first_ms: Long, last_ms: Long)
  final case class FragState(n: Long, preds: Seq[String], firstMs: Long, lastMs: Long)

  /** Sessionized per-subject graph-fragment accumulation with CUSTOM state
    * (`flatMapGroupsWithState`, event-time timeout): triples for one subject
    * arriving within `gapMs` of each other accumulate in the state store;
    * when the watermark passes last-seen + gap, the subject's fragment is
    * emitted once and its state removed. This is the streaming shape of
    * incremental entity assembly: state is bounded by (active subjects in
    * the gap horizon), not by stream length — the only viable formulation
    * at 10^12 docs.
    */
  def subjectFragments(triples: DataFrame, watermark: String = "10 seconds",
      gapMs: Long = 30000L): Dataset[SubjectFragment] = {
    val spark = triples.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    triples
      .withWatermark("ingest_ts", watermark)
      .select(col("subj"), col("pred"), col("ingest_ts"))
      .as[(String, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (subj: String, rows: Iterator[(String, String, java.sql.Timestamp)],
            state: GroupState[FragState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SubjectFragment(subj, s.n, s.preds.distinct.size, s.firstMs, s.lastMs))
          } else {
            var s = state.getOption.getOrElse(FragState(0L, Vector.empty, Long.MaxValue, Long.MinValue))
            rows.foreach { case (_, pred, ts) =>
              val ms = ts.getTime
              s = FragState(s.n + 1,
                if (s.preds.contains(pred)) s.preds else s.preds :+ pred,
                math.min(s.firstMs, ms), math.max(s.lastMs, ms))
            }
            state.update(s)
            // timeout must stay ahead of the current watermark
            state.setTimeoutTimestamp(math.max(s.lastMs + gapMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
        })
  }

  /** readStream → expand → durable writeStream: the streaming lift of
    * [[Materialize]], writing both channels. Micro-batch N is one
    * [[Materialize.writeUnit]] unit, `errors/batch=N` then
    * `triples/batch=N` (one row per (triple, doc), as in a bucket),
    * committed by a [[PartitionLineage]] row in `stream_lineage` whose
    * `bucket` is the batch id. An id that does not fit an `Int` fails the
    * batch; an `outDir` holding a bucketed run's `lineage` is refused.
    *
    * foreachBatch is at-least-once on failure and restart. The engine's
    * streaming checkpoint plus the lineage gate make restarts resume
    * without duplicating batches: the committed ids are read once, when
    * this call starts the query, and a batch whose id is among them is
    * skipped. A batch written but not committed is redone; its writes are
    * `Overwrite`. The gate holds only while the checkpoint makes the source
    * replay the same docs under an id, so an `outDir` holding
    * `stream_lineage/` but no `_checkpoints/` is refused with an
    * `IllegalArgumentException` before the query starts.
    */
  def materializeStream(
      docs: Dataset[TimedDoc],
      resolvedContexts: Broadcast[Map[String, String]],
      outDir: String
  ): StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    Materialize.refuseOtherLayout(spark, outDir, "lineage")
    val lineagePath = s"$outDir/stream_lineage"
    if (Materialize.pathExists(spark, lineagePath) && !Materialize.pathExists(spark, s"$outDir/_checkpoints"))
      throw new IllegalArgumentException(s"$outDir holds stream_lineage/ but no _checkpoints/: its source " +
        "would replay committed batch ids with other docs; use a fresh outDir")
    val committed = Materialize.committedUnits(spark, lineagePath)
    docs.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoints")
      .foreachBatch { (batch: Dataset[TimedDoc], batchId: Long) =>
        val id = Math.toIntExact(batchId)
        if (!committed(id)) {
          val row = Materialize.writeUnit(batch.select(col("doc.*")).as[Doc], resolvedContexts, outDir, "batch", id)
          Seq(row).toDS().write.mode(SaveMode.Append).parquet(lineagePath)
        }
      }
      .start()
  }

  /** Streaming exact dedup with BOUNDED state: duplicates are dropped within
    * the watermark horizon via dropDuplicatesWithinWatermark — the only safe
    * formulation on unbounded input (plain dropDuplicates would grow state
    * forever at 10^12 docs). Keyed by content hash, not the full text, so
    * the state store holds 8 bytes of key per doc in the horizon.
    */
  def dedupStream(docs: Dataset[TimedDoc], watermark: String = "10 seconds"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.map(td => (td.ingest_ts, td.doc.doc_id,
        // control-char separators at BOTH levels: '|' occurs in real text, so
      // (text="a|b", ref="r") vs (text="a", ref="b|r") must not collide
      td.doc.spans.map(s => s"${s.kind}\u0001${s.text}\u0001${s.media_ref}").mkString("\u0000")))
      .toDF("ingest_ts", "doc_id", "content")
      .withColumn("content_hash", xxhash64(col("content")))
      .drop("content")
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")
  }
}
