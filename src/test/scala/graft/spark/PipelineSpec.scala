package graft.spark

import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}
import graft.core.{JsonLdOptions, Triple, BnodeCanon}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** The bnode-bearing toRdf fixtures, parsed from their expected N-Quads. */
  private lazy val toRdfBnodeFixtures: Vector[(String, Vector[Triple])] = {
    val dir = java.nio.file.Paths.get("src/test/resources/w3c/toRdf")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith("-out.nq")).toVector.sorted
      .map { f =>
        val id = f.stripSuffix("-out.nq")
        id -> BnodeCanon.parseNQuads(new String(
          java.nio.file.Files.readAllBytes(dir.resolve(f)), "UTF-8")).toVector
      }
      .filter(_._2.exists(t => t.subj.startsWith("_:") || t.objKind == "bnode" || t.graph.startsWith("_:")))
  }

  private def toRdfRows(fixtures: Vector[(String, Vector[Triple])]): Vector[TripleRow] =
    fixtures.flatMap { case (id, ts) =>
      ts.map(t => TripleRow(t.subj, t.pred, t.objKind, t.objValue, t.objDatatype, t.objLang, t.graph, id))
    }

  /** kgbench's `canon` recipe: default docs with every 5th doc a deep-bnode
    * doc, renamed `deep-…` so that no two docs share a scope.
    */
  private def canonRecipeRows(nDocs: Int): Vector[TripleRow] = {
    import spark.implicits._
    val docs = (0 until nDocs).map { i =>
      if (i % 5 == 4) { val d = SyntheticDocs.deepBnodeDoc(i); d.copy(doc_id = "deep-" + d.doc_id) }
      else SyntheticDocs.generateDoc(i)
    }
    val ctxB = spark.sparkContext.broadcast(RemoteContextPool.pool)
    ExpandStage.triples(ExpandStage.run(docs.toDS(), ctxB)).collect().toVector
  }

  /** Rows at the edges of the signature encoding: `|`-bearing doc ids that
    * share a scope and a tie, a null doc id, a bnode object with a null
    * value, a null predicate, duplicate triples, bnode graphs, and
    * non-ASCII labels and literals whose UTF-16 and UTF-8 orders disagree.
    */
  private val edgeRows: Vector[TripleRow] = {
    def chain(doc: String) = Vector(
      TripleRow("_:b0", "http://p/knows", "bnode", "_:b1", "", "", "", doc),
      TripleRow("_:b1", "http://p/name", "literal", "x", "http://www.w3.org/2001/XMLSchema#string", "", "", doc))
    val astral = "\uD834\uDD1E" // U+1D11E: before U+E000 in UTF-16, after it in UTF-8
    chain("a|1") ++ chain("a|2") ++ chain("a") ++ chain(null) ++ Vector(
      TripleRow("_:n", "http://p/v", "bnode", null, null, null, null, "e"),
      TripleRow("_:n", null, "literal", "y", null, null, "", "e"),
      TripleRow("http://s/e", "http://p/x", "bnode", "_:n", "", "", "_:g", "e"),
      TripleRow("http://s/e", "http://p/x", "bnode", "_:n", "", "", "_:g", "e"),
      TripleRow("_:\u00fc", "http://p/q", "literal", "\uE000", "", "", "", "u"),
      TripleRow("_:\u00fc", "http://p/q", "literal", astral, "", "", "", "u"),
      TripleRow("_:" + astral, "http://p/q", "literal", "v", "", "", "", "u"),
      TripleRow("_:\uE000", "http://p/q", "literal", "v", "", "", "", "u"),
      TripleRow("_:\u65e5", "http://p/q", "literal", "v", null, "ja", "", "u"),
      TripleRow("http://s/plain", "http://p/plain", "literal", "z", "", "", "", "u"))
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Vector[TripleRow] = {
    import spark.implicits._
    df.as[TripleRow].collect().toVector.sortBy(_.toString)
  }

  test("synthetic generator is deterministic and satisfies the span invariant") {
    val d1 = SyntheticDocs.generateDoc(7L)
    val d2 = SyntheticDocs.generateDoc(7L)
    assert(d1 == d2)
    assert(d1.spans.map(_.offset) == d1.spans.map(_.offset).sorted)
    assert(d1.spans.map(_.offset).distinct.size == d1.spans.size)
    // j03's size == size(array_distinct) check equals its explode +
    // collect_set form only while offset cannot be NULL
    val span = SyntheticDocs.generate(spark, 1, 1).schema("spans").dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    assert(!span("offset").nullable, "spans.element.offset became nullable")
  }

  test("expandDoc emits triples for every jsonld/media span family and no errors on the synthetic corpus") {
    val loader = RemoteContextPool.fullLoader
    var triples = 0
    var errors = 0
    (0L until 200L).foreach { i =>
      val (ts, es) = ExpandStage.expandDoc(SyntheticDocs.generateDoc(i), loader, JsonLdOptions(), ExpandStage.aliasDictionary)
      triples += ts.size
      errors += es.size
    }
    assert(errors == 0, s"expansion errors on synthetic corpus: $errors")
    assert(triples > 500)
  }

  test("hostile deeply-nested span lands in the error channel; the rest of the doc survives") {
    val loader = RemoteContextPool.fullLoader
    val hostile = "[" * 100000 + "1" + "]" * 100000
    val doc = Doc("doc-hostile", Vector(
      Span("jsonld", hostile, null, 10),
      Span("jsonld", """{"@context":{"@vocab":"http://v/"},"@id":"http://e/a","p":"ok"}""", null, 20)))
    val (ts, es) = ExpandStage.expandDoc(doc, loader, JsonLdOptions(), ExpandStage.aliasDictionary)
    assert(es.size == 1 && es.head.span_offset == 10, s"errors: $es")
    assert(ts.exists(t => t.obj_value == "ok"), "healthy span in the same doc must still expand")
  }

  test("end-to-end: generate → expand → materialize → finalize, with lineage") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val docs = SyntheticDocs.generate(spark, 300, 4)
    val report = Materialize.run(docs, out, buckets = 4)
    assert(report.processed == 4 && report.skipped == 0)
    assert(report.triples > 300)
    val graph = Materialize.finalizeGraph(spark, out)
    assert(graph.count() > 0)
    // rdf:type hot predicate present (skew knob)
    val preds = Canonicalize.predicateCounts(spark.read.parquet(s"$out/triples").as[TripleRow]).collect()
    assert(preds.exists(_.getString(0) == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"))
    // lineage: one row per bucket
    val lineage = spark.read.parquet(s"$out/lineage")
    assert(lineage.count() == 4)
  }

  test("resume skips completed buckets and reaches the same graph") {
    val out1 = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val out2 = java.nio.file.Files.createTempDirectory("graft-full").toString
    val docs = SyntheticDocs.generate(spark, 200, 4)
    // crash at bucket 2
    intercept[RuntimeException] { Materialize.run(docs, out1, buckets = 4, failAtBucket = Some(2)) }
    val resumed = Materialize.run(docs, out1, buckets = 4)
    assert(resumed.skipped == 2 && resumed.processed == 2)
    val full = Materialize.run(docs, out2, buckets = 4)
    val g1 = Materialize.finalizeGraph(spark, out1).orderBy("subj", "pred", "obj_value").collect()
    val g2 = Materialize.finalizeGraph(spark, out2).orderBy("subj", "pred", "obj_value").collect()
    assert(g1.toSeq == g2.toSeq)
    assert(spark.read.parquet(s"$out1/lineage").count() == 4)
  }

  test("a resume reads lineage rows written with the older status and attempt columns") {
    val out = java.nio.file.Files.createTempDirectory("graft-oldlineage").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft-oldlineage-full").toString
    val docs = SyntheticDocs.generate(spark, 200, 4)
    intercept[RuntimeException] { Materialize.run(docs, out, buckets = 4, failAtBucket = Some(2)) }
    // rewrite the two committed rows in the older seven-column layout
    val rows = spark.read.parquet(s"$out/lineage").collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows), Materialize.lineageSchema)
      .select(col("bucket"), col("doc_count"), col("triple_count"), col("error_count"),
        lit("done").as("status"), lit(1).as("attempt"), col("wall_ms"))
      .write.mode("overwrite").parquet(s"$out/lineage")
    assert(spark.read.parquet(s"$out/lineage").columns.toSeq.contains("attempt"))
    val resumed = Materialize.run(docs, out, buckets = 4)
    assert((resumed.skipped, resumed.processed) == (2, 2))
    Materialize.run(docs, fresh, buckets = 4)
    def graph(dir: String) = Materialize.finalizeGraph(spark, dir).collect().map(_.toString).sorted.toSeq
    assert(graph(out) == graph(fresh))
  }

  test("a fresh run clears the triples and errors an uncommitted run left behind") {
    val out = java.nio.file.Files.createTempDirectory("graft-leftover").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft-leftover-full").toString
    val docs = SyntheticDocs.generate(spark, 400, 4)
    intercept[RuntimeException] { Materialize.run(docs, out, buckets = 4, failAtBucket = Some(0)) }
    assert(!Materialize.pathExists(spark, s"$out/lineage"))
    assert(Materialize.pathExists(spark, s"$out/triples/bucket=3"))
    Materialize.run(docs, out, buckets = 2)
    Materialize.run(docs, fresh, buckets = 2)
    def graph(dir: String) = Materialize.finalizeGraph(spark, dir)
    def support(dir: String) = graph(dir).agg(sum("support")).head().getLong(0)
    assert(support(out) == support(fresh))
    assert(graph(out).collect().map(_.toString).sorted.toSeq == graph(fresh).collect().map(_.toString).sorted.toSeq)
    for (channel <- Seq("triples", "errors"); b <- Seq(2, 3))
      assert(!Materialize.pathExists(spark, s"$out/$channel/bucket=$b"), s"$channel/bucket=$b")
  }

  test("a resume with another bucket count fails, leaving lineage and staging as they were") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-rebucket").toString
    val docs = SyntheticDocs.generate(spark, 400, 4)
    intercept[RuntimeException] { Materialize.run(docs, out, buckets = 16, failAtBucket = Some(1)) }
    def lineage() = spark.read.parquet(s"$out/lineage").as[PartitionLineage].collect().sortBy(_.bucket).toSeq
    val before = lineage()
    assert(before.map(_.bucket) == Seq(0))
    val e = intercept[IllegalArgumentException] { Materialize.run(docs, out, buckets = 2) }
    assert(e.getMessage.contains(out) && e.getMessage.contains("another bucket count"), e.getMessage)
    assert(lineage() == before)
    assert(!Materialize.pathExists(spark, s"$out/staging_b2"))
  }

  test("a resume reads the staged corpus, not the docs it is given") {
    val out = java.nio.file.Files.createTempDirectory("graft-restage").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft-restage-full").toString
    val all = SyntheticDocs.generate(spark, 400, 4)
    val first = all.filter(col("doc_id") < "doc-000000000200")
    val other = all.filter(col("doc_id") >= "doc-000000000200")
    intercept[RuntimeException] { Materialize.run(first, out, buckets = 4, failAtBucket = Some(1)) }
    Materialize.run(other, out, buckets = 4)
    Materialize.run(first, fresh, buckets = 4)
    def graph(dir: String) = Materialize.finalizeGraph(spark, dir).collect().map(_.toString).sorted.toSeq
    assert(graph(out) == graph(fresh))
  }

  test("Materialize refuses fewer than one bucket before writing anything") {
    val out = java.nio.file.Files.createTempDirectory("graft-nobuckets").toString
    val docs = SyntheticDocs.generate(spark, 20, 1)
    for (buckets <- Seq(0, -1))
      intercept[IllegalArgumentException] { Materialize.run(docs, out, buckets = buckets) }
    assert(new java.io.File(out).list().isEmpty)
  }

  test("the graph's support counts the docs holding a triple and first_doc is the least, at any bucket count") {
    import spark.implicits._
    val docs = (0 until 10).map(i => Doc(f"d$i%02d",
      Seq(Span("jsonld", """{"@id":"http://e/x","http://v/p":"v"}""", null, 0)))).toDS()
    for (buckets <- Seq(1, 4, 8)) {
      val out = java.nio.file.Files.createTempDirectory(s"graft-support-$buckets").toString
      Materialize.run(docs, out, buckets = buckets)
      val graph = Materialize.finalizeGraph(spark, out).select("first_doc", "support").as[(String, Long)].collect()
      assert(graph.toSeq == Seq(("d00", 10L)), s"$buckets buckets")
    }
  }

  test("resolveAll keeps only pool entries; broadcastResolved broadcasts that map") {
    import spark.implicits._
    val vocab = s"${RemoteContextPool.baseIri}vocab.jsonld"
    val missing = s"${RemoteContextPool.baseIri}missing.jsonld"
    val resolved = RemoteContextPool.resolveAll(Vector(vocab, missing))
    assert(resolved == Map(vocab -> RemoteContextPool.pool(vocab)))
    val broadcast = RemoteContextPool.broadcastResolved(spark, Seq(vocab, missing, vocab, missing, vocab).toDS())
    assert(broadcast.value == resolved)
  }

  test("lineage counts equal what each bucket wrote; the report sums them") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-lineage").toString
    // truncated JSON-LD: each broken doc puts one row on the error channel
    val broken = (0 until 6).map(i => Doc(s"doc-broken-$i", Vector(
      Span("jsonld", s"""{"@context":{"@vocab":"http://v/"},"@id":"http://e/$i","p":""", null, 0))))
    val docs = SyntheticDocs.generate(spark, 200, 4).union(broken.toDS())
    val report = Materialize.run(docs, out, buckets = 4)
    val lineage = spark.read.parquet(s"$out/lineage").as[PartitionLineage].collect().sortBy(_.bucket)
    assert(lineage.map(_.bucket).toSeq == (0 until 4))
    val docsPerBucket = docs.select(Materialize.bucketOf(4).as("b")).groupBy("b").count()
      .as[(Int, Long)].collect().toMap
    lineage.foreach { l =>
      val b = l.bucket
      assert(l.doc_count == docsPerBucket.getOrElse(b, 0L), s"bucket $b doc_count")
      assert(l.triple_count == spark.read.parquet(s"$out/triples/bucket=$b").count(), s"bucket $b triple_count")
      assert(l.error_count == spark.read.parquet(s"$out/errors/bucket=$b").count(), s"bucket $b error_count")
    }
    assert(lineage.map(_.error_count).sum >= broken.size)
    assert(report.triples == lineage.map(_.triple_count).sum)
    assert(report.errors == lineage.map(_.error_count).sum)
  }

  test("Materialize resolves a pool context referenced only from an html span, as ExpandStage does") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-html-ctx").toString
    val page = s"""<html><head><script type="application/ld+json">""" +
      s"""{"@context":"${RemoteContextPool.baseIri}typed.jsonld","@id":"http://s/h","count":"3"}""" +
      """</script></head><body>p</body></html>"""
    val docs = Seq(Doc("doc-html-ctx", Seq(Span("html", page, null, 0)))).toDS()
    val report = Materialize.run(docs, out, buckets = 1)
    assert((report.triples, report.errors) == (1L, 0L), report)
    val viaStage = ExpandStage.triples(ExpandStage.run(docs, spark.sparkContext.broadcast(RemoteContextPool.pool)))
    assert(spark.read.parquet(s"$out/triples").drop("bucket").as[TripleRow].collect().toSeq ==
      viaStage.collect().toSeq)
  }

  test("empty buckets do not hang: 3 docs into 8 buckets commit 0/0/0 lineage rows") {
    import spark.implicits._
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.{Seconds, Span => TimeSpan}
    implicit val signaler: Signaler = ThreadSignaler
    val out = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val report = TimeLimits.failAfter(TimeSpan(120, Seconds)) {
      Materialize.run(SyntheticDocs.generate(spark, 3, 1), out, buckets = 8)
    }
    assert(report.processed == 8)
    val lineage = spark.read.parquet(s"$out/lineage").as[PartitionLineage].collect()
    assert(lineage.map(_.bucket).sorted.toSeq == (0 until 8))
    assert(lineage.map(_.doc_count).sum == 3)
    val empty = lineage.filter(_.doc_count == 0)
    assert(empty.length >= 5)
    assert(empty.forall(l => l.triple_count == 0 && l.error_count == 0), empty.toSeq)
  }

  test("a failure in bucket 2 with bucket 3 in flight commits buckets 0 and 1 and leaves no job, thread or cache") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val out = java.nio.file.Files.createTempDirectory("graft-fail").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft-fail-full").toString
    // bucket 3 holds about 80 times the docs of each other bucket, so that
    // it is still running when bucket 2's failure reaches the committing
    // thread
    val docs = SyntheticDocs.generate(spark, 16000, 4)
      .filter(Materialize.bucketOf(4) === 3 || col("doc_id") < "doc-000000000200")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[RuntimeException] { Materialize.run(docs, out, buckets = 4, failAtBucket = Some(2)) }
    assert(e.getMessage == "injected failure at bucket 2")
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty, "a Spark job outlived the failed run")
    val poolThreads = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-materialize-"))
    assert(poolThreads.isEmpty, s"live pool threads: $poolThreads")
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore, "the failed run left rows cached")
    // bucket 2 was failed after its errors were written; bucket 3 ran to its
    // end but, being above the failure, was not committed
    assert(Materialize.pathExists(spark, s"$out/errors/bucket=2"))
    assert(Materialize.pathExists(spark, s"$out/triples/bucket=3"))
    // The checks above mean something only if bucket 3 was still running
    // when the committing thread met bucket 2's failure, that is once bucket
    // 2 had failed (right after its errors write) and bucket 1 had committed
    // (the last lineage write). Bucket 3's triples write must end after both.
    def endedAt(dir: String) = java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(out, dir, "_SUCCESS"))
    val failureSeen = Seq(endedAt("errors/bucket=2"), endedAt("lineage")).max
    val margin = endedAt("triples/bucket=3").toMillis - failureSeen.toMillis
    info(s"bucket 3 ended $margin ms after bucket 2's failure was seen")
    assert(margin > 0, "bucket 3 ended before bucket 2's failure was seen")
    val committed = spark.read.parquet(s"$out/lineage").as[PartitionLineage].collect().map(_.bucket).sorted
    assert(committed.toSeq == Seq(0, 1))
    val resumed = Materialize.run(docs, out, buckets = 4)
    assert(resumed.skipped == 2 && resumed.processed == 2)
    Materialize.run(docs, fresh, buckets = 4)
    def graph(dir: String) = Materialize.finalizeGraph(spark, dir).collect().map(_.toString).sorted.toSeq
    assert(graph(out) == graph(fresh))
  }

  test("Materialize reads its own tables with the schema an inferring read finds, nullability included") {
    val out = java.nio.file.Files.createTempDirectory("graft-schemas").toString
    val docs = SyntheticDocs.generate(spark, 50, 2)
    Materialize.run(docs, out, buckets = 2)
    val graph = Materialize.finalizeGraph(spark, out)
    def inferred(dir: String) = spark.read.parquet(s"$out/$dir").schema
    def given(schema: StructType, dir: String) = spark.read.schema(schema).parquet(s"$out/$dir").schema
    val staging = new java.io.File(out).list().filter(_.startsWith("staging_b2")).toSeq
    assert(staging.size == 1, staging)
    assert(given(Materialize.stagedSchema(docs.schema), staging.head) == inferred(staging.head))
    assert(given(Materialize.lineageSchema, "lineage") == inferred("lineage"))
    assert(given(Materialize.triplesSchema, "triples") == inferred("triples"))
    assert(graph.schema == inferred("graph"))
  }

  test("distributed canonicalization (iterative joins) is deterministic, complete, and structure-preserving") {
    import spark.implicits._
    def mk(doc: String): Seq[TripleRow] = Seq(
      TripleRow("_:b0", "http://p/knows", "bnode", "_:b1", "", "", "", doc),
      TripleRow("_:b1", "http://p/name", "literal", "x", "http://www.w3.org/2001/XMLSchema#string", "", "", doc),
      TripleRow(s"http://s/$doc", "http://p/root", "bnode", "_:b0", "", "", "", doc))
    val raw = spark.createDataset(mk("d1") ++ mk("d2"))
    val out = Canonicalize.global(raw, rounds = 3, scoped = true).as[TripleRow].collect().toVector
    assert(!out.exists(t => t.subj.startsWith("_:b") || (t.obj_kind == "bnode" && t.obj_value.startsWith("_:b"))))
    // doc-scoped: same structure in different docs → different labels
    val d1Labels = out.filter(_.doc_id == "d1").flatMap(t => Seq(t.subj, t.obj_value)).filter(_.startsWith("_:")).toSet
    val d2Labels = out.filter(_.doc_id == "d2").flatMap(t => Seq(t.subj, t.obj_value)).filter(_.startsWith("_:")).toSet
    assert(d1Labels.intersect(d2Labels).isEmpty)
    assert(d1Labels.size == 2 && d2Labels.size == 2)
    // determinism
    val out2 = Canonicalize.global(raw, rounds = 3, scoped = true).as[TripleRow].collect().toVector
    assert(out.sortBy(_.toString) == out2.sortBy(_.toString))
    // global scope: identical structures merge to identical labels
    val merged = Canonicalize.global(raw, rounds = 3, scoped = false).as[TripleRow].collect().toVector
    def anon(s: String) = if (s.startsWith("http://s/")) "S" else s
    val m1 = merged.filter(_.doc_id == "d1").map(t => (anon(t.subj), t.pred, t.obj_value)).toSet
    val m2 = merged.filter(_.doc_id == "d2").map(t => (anon(t.subj), t.pred, t.obj_value)).toSet
    assert(m1 == m2)
  }

  test("relabel-role pruning: subj-only output matches the full run on every pass-through column") {
    import spark.implicits._
    // mix of bnode subjects/objects/graphs so every relabel role is exercised
    val raw = spark.createDataset(Seq(
      TripleRow("_:b0", "http://p/knows", "bnode", "_:b1", "", "", "_:g0", "d1"),
      TripleRow("_:b1", "http://p/name", "literal", "x", "http://www.w3.org/2001/XMLSchema#string", "", "", "d1"),
      TripleRow("http://s/d1", "http://p/root", "bnode", "_:b0", "", "", "", "d1"),
      TripleRow("_:b0", "http://p/knows", "bnode", "_:b1", "", "", "", "d2"),
      TripleRow("http://s/iri", "http://p/plain", "literal", "y", "", "", "", "d3")))
    val full = Canonicalize.global(raw, rounds = 3, scoped = true).as[TripleRow].collect().toVector
    val subjOnly = Canonicalize.global(raw, rounds = 3, scoped = true, relabelRoles = Set("subj"))
      .as[TripleRow].collect().toVector
    assert(subjOnly.size == full.size, "role pruning must be non-expanding (labeled is unique per node)")
    // subj + every non-relabeled column identical to the full run; obj/graph
    // keep their ORIGINAL labels in the pruned run
    def key(t: TripleRow) = (t.subj, t.pred, t.obj_kind, t.obj_datatype, t.obj_lang, t.doc_id)
    assert(subjOnly.map(key).sorted == full.map(key).sorted)
    assert(subjOnly.count(_.obj_value.startsWith("_:b")) == raw.collect().count(_.obj_kind == "bnode"))
    assert(full.count(_.obj_value.startsWith("_:b")) == 0)
    // the j02 invariants are bit-identical: per-pred row counts and
    // distinct-subject counts
    def agg(ts: Vector[TripleRow]) =
      ts.groupBy(_.pred).map { case (p, rows) => (p, rows.size, rows.map(_.subj).distinct.size) }.toSet
    assert(agg(subjOnly) == agg(full))
  }

  test("distributed canonicalization: automorphic bnodes get distinct deterministic labels") {
    import spark.implicits._
    // _:a and _:b are structurally indistinguishable (automorphic pair)
    val raw = spark.createDataset(Seq(
      TripleRow("http://s/", "http://p/x", "bnode", "_:a", "", "", "", "d1"),
      TripleRow("http://s/", "http://p/x", "bnode", "_:b", "", "", "", "d1"),
      TripleRow("_:a", "http://p/q", "literal", "v", "", "", "", "d1"),
      TripleRow("_:b", "http://p/q", "literal", "v", "", "", "", "d1")))
    val out1 = Canonicalize.global(raw, rounds = 2, scoped = true).as[TripleRow].collect().toVector
    val labels = out1.filter(_.obj_kind == "bnode").map(_.obj_value).toSet
    assert(labels.size == 2, s"automorphic bnodes must stay distinct: $labels")
    assert(labels.forall(_.startsWith("_:c")))
    val out2 = Canonicalize.global(raw, rounds = 2, scoped = true).as[TripleRow].collect().toVector
    assert(out1.sortBy(_.toString) == out2.sortBy(_.toString))
    // the local canonicalizer also keeps them distinct
    val local = graft.core.BnodeCanon.canonicalize(Vector(
      graft.core.Triple("http://s/", "http://p/x", "bnode", "_:a", "", "", ""),
      graft.core.Triple("http://s/", "http://p/x", "bnode", "_:b", "", "", ""),
      graft.core.Triple("_:a", "http://p/q", "literal", "v", "", "", ""),
      graft.core.Triple("_:b", "http://p/q", "literal", "v", "", "", "")), scopeSalt = "d1")
    assert(local.filter(_.objKind == "bnode").map(_.objValue).toSet.size == 2)
  }

  test("deep-bnode corpus forces WL refinement to iterate (2 rounds) and stays bijective") {
    import spark.implicits._
    val ctxB = spark.sparkContext.broadcast(RemoteContextPool.pool)
    val docs = SyntheticDocs.generateDeepBnodes(spark, 30, 4)
    val triples = ExpandStage.triples(ExpandStage.run(docs, ctxB)).cache()
    val inRows = triples.collect().toVector
    assert(inRows.nonEmpty)
    val (canonDf, rounds) = Canonicalize.globalWithRounds(triples, rounds = 3, scoped = true)
    // the chains collide on first-degree AND first-neighbor signatures:
    // exactly two neighbor-hash rounds must run before full separation
    assert(rounds == 2, s"expected 2 WL refinement rounds on the deep corpus, got $rounds")
    val out = canonDf.as[TripleRow].collect().toVector
    assert(out.size == inRows.size)
    // bijective per doc: same number of distinct bnode labels before and after
    def bnodeCount(rows: Vector[TripleRow]) = rows.groupBy(_.doc_id).view.mapValues { ts =>
      ts.flatMap(t => Seq(t.subj, if (t.obj_kind == "bnode") t.obj_value else null))
        .filter(s => s != null && s.startsWith("_:")).toSet.size
    }.toMap
    assert(bnodeCount(out) == bnodeCount(inRows))
    // determinism across runs
    val out2 = Canonicalize.globalWithRounds(triples, rounds = 3, scoped = true)._1
      .as[TripleRow].collect().toVector
    assert(out.sortBy(_.toString) == out2.sortBy(_.toString))
    // context: how many rounds the DEFAULT corpus needs (informational — the
    // deep corpus above is the pinned refinement exercise)
    val flat = ExpandStage.triples(ExpandStage.run(SyntheticDocs.generate(spark, 50, 4), ctxB))
    info(s"default-corpus refinement rounds: ${Canonicalize.globalWithRounds(flat, rounds = 3, scoped = true)._2}")
    triples.unpersist()
  }

  test("grouped canonicalization equals the frozen join formulation: rows and round counts") {
    import spark.implicits._
    def hasBnode(t: TripleRow) = t.subj.startsWith("_:") || t.obj_kind == "bnode" || t.graph.startsWith("_:")
    val corpora = Vector(
      "canon recipe" -> canonRecipeRows(40),
      "toRdf fixtures" -> toRdfRows(toRdfBnodeFixtures),
      "edge rows" -> edgeRows,
      "blank-node-free rows" -> edgeRows.filterNot(hasBnode),
      "empty" -> Vector.empty[TripleRow])
    val roleSets = Vector(Canonicalize.AllRoles, Set("subj"), Set("obj", "graph"))
    for ((name, rows) <- corpora) {
      val ds = rows.toDS().cache()
      val ran = mutable.SortedSet.empty[Int]
      for (scoped <- Seq(true, false); rounds <- 0 to 3; roles <- roleSets) {
        val (want, wantR) = JoinCanonicalize.globalWithRounds(ds, rounds, scoped, roles)
        val (got, gotR) = Canonicalize.globalWithRounds(ds, rounds, scoped, roles)
        val cfg = s"$name, scoped=$scoped, rounds=$rounds, roles=$roles"
        val gotRows = sortedRows(got)
        assert(gotR == wantR, s"$cfg: rounds")
        assert(got.columns.toSeq == want.columns.toSeq, s"$cfg: columns")
        assert(gotRows == sortedRows(want), s"$cfg: rows")
        // stated outright, not only through the reference: input without
        // blank nodes comes back unchanged after 0 rounds, and scoped mode
        // passes rows with a null doc_id through unrelabelled
        if (!rows.exists(hasBnode)) assert(gotR == 0 && gotRows == rows.sortBy(_.toString), s"$cfg: unchanged")
        if (scoped) assert(gotRows.filter(_.doc_id == null) == rows.filter(_.doc_id == null).sortBy(_.toString),
          s"$cfg: null doc_id rows")
        ran += gotR
      }
      info(s"$name: ${rows.size} rows, refinement rounds run ${ran.mkString(", ")}")
      ds.unpersist()
    }
  }

  test("canonicalization pass 1 brings back one row per partition, not one per scope") {
    import spark.implicits._
    val keyed = Canonicalize.keyedByScope(canonRecipeRows(40).toDF(), scoped = true)
    val counts = Canonicalize.scopeCounts(Canonicalize.byScope(keyed), 3).collect()
    val partitions = spark.sparkContext.defaultParallelism max
      spark.conf.get("spark.sql.shuffle.partitions").toInt
    val nScopes = keyed.select("scope").na.drop().distinct().count()
    assert(nScopes > partitions, "the corpus must have more scopes than partitions")
    assert(counts.length <= partitions)
    val nodes = keyed.select(explode(array("subj_key", "obj_key", "graph_key"))).na.drop().distinct().count()
    assert(counts.map(_.nodes).sum == nodes)
  }

  test("canonicalization spreads pass-through rows with a null doc_id over the shuffle partitions") {
    import spark.implicits._
    val nullDoc = (0 until 1000).map(i => TripleRow(s"http://s/$i", "http://p/v", "literal", s"$i", "", "", "", null))
    val keyed = Canonicalize.keyedByScope(nullDoc.toDF(), scoped = true)
    val perPartition = Canonicalize.byScope(keyed)
      .mapPartitions(rows => Iterator(rows.count(_.doc_id == null))).collect()
    assert(perPartition.sum == nullDoc.size)
    assert(perPartition.count(_ > 0) > 1, s"null-doc_id rows per partition: ${perPartition.toSeq}")
  }

  test("canonicalization shuffles once, both passes reading it, and checkpoints nothing") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    val input = canonRecipeRows(40).toDS()
    val group = "canonicalize-shape"
    val groupStages = mutable.Set.empty[Int]
    val shuffleWriters = mutable.Set.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        if (e.properties.getProperty("spark.jobGroup.id") == group) groupStages ++= e.stageIds
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        if (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0) shuffleWriters += e.stageInfo.stageId
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      spark.sparkContext.setJobGroup(group, group)
      val (out, rounds) = Canonicalize.globalWithRounds(input, rounds = 3, scoped = true)
      assert(rounds > 0)
      out.write.format("noop").mode("overwrite").save()
      out
    } finally {
      spark.sparkContext.clearJobGroup()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val written = listener.synchronized(shuffleWriters.intersect(groupStages))
    assert(written.size == 1, s"stages that wrote shuffle files: $written")
    def closure(rdd: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
      rdd +: rdd.dependencies.flatMap(d => closure(d.rdd))
    val checkpointed = closure(out.queryExecution.toRdd).filter(_.isCheckpointed)
    assert(checkpointed.isEmpty, s"checkpointed RDDs under the output: $checkpointed")
  }

  test("canonical triples do not depend on the input's blank-node labels, except on WL-stable ties") {
    import spark.implicits._
    // a random bijection of each doc's bnode labels onto themselves
    def permute(rows: Vector[TripleRow], seed: Long): Vector[TripleRow] =
      rows.groupBy(_.doc_id).toVector.sortBy(_._1).flatMap { case (_, ts) =>
        val labels = ts.flatMap(t => Seq(t.subj, if (t.obj_kind == "bnode") t.obj_value else null, t.graph))
          .filter(l => l != null && l.startsWith("_:")).distinct.sorted
        val m = labels.zip(new scala.util.Random(seed ^ ts.head.doc_id.hashCode).shuffle(labels)).toMap
        def p(l: String) = m.getOrElse(l, l)
        ts.map(t => t.copy(subj = p(t.subj),
          obj_value = if (t.obj_kind == "bnode") p(t.obj_value) else t.obj_value, graph = p(t.graph)))
      }
    def canon(rows: Vector[TripleRow]) = sortedRows(Canonicalize.global(rows.toDS(), rounds = 3, scoped = true))

    // the canon recipe has no WL-stable ties: every permutation keeps the set
    val recipe = canonRecipeRows(40)
    val base = canon(recipe)
    for (seed <- 1L to 2L) assert(canon(permute(recipe, seed)) == base, s"permutation seed $seed")

    // known counter-examples, one copy per doc, each copy permuted at random:
    // ties are ranked by input key order, so the label an input node gets
    // depends on its input label. For the automorphic pair of the test above
    // that never changes the triple set; for a directed 3-cycle, whose nodes
    // WL cannot separate, it does.
    val copies = 24
    def copiesOf(ts: String => Vector[TripleRow]) = (0 until copies).toVector.flatMap(k => ts(s"k$k"))
    val pair = copiesOf(d => Vector(
      TripleRow("http://s/", "http://p/x", "bnode", "_:a", "", "", "", d),
      TripleRow("http://s/", "http://p/x", "bnode", "_:b", "", "", "", d),
      TripleRow("_:a", "http://p/q", "literal", "v", "", "", "", d),
      TripleRow("_:b", "http://p/q", "literal", "v", "", "", "", d)))
    val cycle = copiesOf(d => Vector(
      TripleRow("_:a", "http://p/next", "bnode", "_:b", "", "", "", d),
      TripleRow("_:b", "http://p/next", "bnode", "_:c", "", "", "", d),
      TripleRow("_:c", "http://p/next", "bnode", "_:a", "", "", "", d)))
    def breaks(rows: Vector[TripleRow]): Int = {
      val (a, b) = (canon(rows).groupBy(_.doc_id), canon(permute(rows, 7L)).groupBy(_.doc_id))
      a.keys.count(d => a(d) != b(d))
    }
    val (pairBreaks, cycleBreaks) = (breaks(pair), breaks(cycle))
    info(s"triple set changed under random relabelling: automorphic pair $pairBreaks/$copies, " +
      s"directed 3-cycle $cycleBreaks/$copies")
    assert(pairBreaks == 0)
    assert(cycleBreaks > 0, "the 3-cycle tie no longer depends on input labels: update ROADMAP direction 1")
  }

  test("j12 pin: canonical labelset hash of the fixed deep-bnode corpus matches SparkEntry's constants") {
    // re-derives the j12 constants from the same code path the query runs:
    // 120-doc deep-bnode corpus → expand → scoped canonicalization →
    // order-independent sum of per-row xxhash64. Any label-assignment change
    // (hash inputs, tie-break, scope seeding, refinement depth) moves the
    // hash — this test names the new value so the pin can be consciously
    // re-derived, while the j12 query itself just empties at verify time.
    val row = graft.SparkEntry.j12LabelsetSummary(spark).head()
    val (n, h) = (row.getLong(0), BigDecimal(row.getDecimal(1)))
    info(s"deep-bnode 120-doc canonical pin: n_triples=$n labelset_hash=$h")
    assert(n == graft.SparkEntry.J12ExpectedTriples,
      s"triple count drifted: got $n, pinned ${graft.SparkEntry.J12ExpectedTriples}")
    assert(h == graft.SparkEntry.J12ExpectedHash,
      s"canonical labelset hash drifted: got $h, pinned ${graft.SparkEntry.J12ExpectedHash}")
  }

  test("span-sequence invariant: pipeline output preserves (kind,text,media_ref,order) per doc") {
    import spark.implicits._
    val docs = SyntheticDocs.generate(spark, 100, 4).cache()
    // the pipeline never mutates docs; verify the round-trip through parquet
    val out = java.nio.file.Files.createTempDirectory("graft-inv").toString
    docs.write.parquet(s"$out/docs")
    val back = spark.read.parquet(s"$out/docs").as[Doc]
    val orig = docs.collect().map(d => d.doc_id -> d.spans.map(s => (s.kind, s.text, s.media_ref, s.offset))).toMap
    val rt = back.collect().map(d => d.doc_id -> d.spans.map(s => (s.kind, s.text, s.media_ref, s.offset))).toMap
    assert(orig == rt)
  }

  test("distributed canonicalization is a valid bijective relabeling on every toRdf fixture") {
    // canonical N-Quads are invariant under any BIJECTIVE bnode relabeling —
    // so Canonicalize.global (doc-scoped) must leave
    // BnodeCanon.toCanonicalNQuads unchanged per fixture. A label collision
    // (merging distinct bnodes) or a scope mix-up breaks the equality.
    import spark.implicits._
    import graft.core.{BnodeCanon, Triple}
    val fixtures = toRdfBnodeFixtures
    assert(fixtures.nonEmpty, "expected bnode-bearing toRdf fixtures")
    val rows = toRdfRows(fixtures)
    val relabeled = Canonicalize.global(rows.toDS(), rounds = 3, scoped = true)
      .select("doc_id", "subj", "pred", "obj_kind", "obj_value", "obj_datatype", "obj_lang", "graph")
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.toVector.map(r =>
        Triple(r.getString(1), r.getString(2), r.getString(3), r.getString(4),
          r.getString(5), r.getString(6), r.getString(7)))).toMap
    fixtures.foreach { case (id, original) =>
      val canonOrig = BnodeCanon.toCanonicalNQuads(original)
      val canonRelabeled = BnodeCanon.toCanonicalNQuads(relabeled(id))
      assert(canonOrig == canonRelabeled,
        s"fixture $id: distributed relabeling changed the canonical graph\norig:\n$canonOrig\nrelabeled:\n$canonRelabeled")
    }
  }

  test("j09 compact roundtrip holds for EVERY doc that has a jsonld span (not just most)") {
    import spark.implicits._
    // j09 filters to docs whose spans ALL roundtrip; if compaction lost
    // information anywhere, its row count would drop below the number of
    // docs that have a jsonld span at all
    val surviving = graft.SparkEntry.queries("j09_compact_roundtrip")(spark, "/root/testdata/sf0.001").count()
    val withJsonld = SyntheticDocs.generate(spark, 500L, 8)
      .filter(_.spans.exists(_.kind == "jsonld")).count()
    assert(withJsonld > 300, s"corpus shape changed: only $withJsonld/500 docs with jsonld spans")
    assert(surviving == withJsonld,
      s"compact∘expand roundtrip failed on ${withJsonld - surviving} of $withJsonld docs")
  }
}
