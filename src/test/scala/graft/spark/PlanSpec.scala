package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry
import graft.core.JsonLdOptions

/** Physical-plan assertions: the plans we'd want at 100 TB, not just plans
  * that pass (builder brief: ".explain the plan and iterate").
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize the AQE plan so codegen spans are visible
    df.queryExecution.executedPlan.toString
  }

  test("q02 pushes the shipdate/discount filters into the parquet scan") {
    val p = plan("q02_filter_pushdown")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"), p.take(2000))
    // column pruning: scan must not read all 11 lineitem columns
    assert(!p.contains("l_partkey"), "scan reads pruned column l_partkey")
  }

  test("q03 small dimension is broadcast, not shuffled") {
    val p = plan("q03_join_broadcast_topn")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q07 anti join and q08 semi join choose hash joins") {
    assert(plan("q07_anti_join").contains("LeftAnti"))
    assert(plan("q08_semi_join").contains("LeftSemi"))
  }

  test("d12 decontamination is a broadcast semi-join: the corpus side never shuffles into the join") {
    val p = plan("d12_decontaminate")
    // benchmark shingles broadcast; corpus shingles stream map-side into a
    // BroadcastHashJoin LeftSemi — a shuffled (SortMerge) semi-join here
    // would move every corpus shingle at 100 TB
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), "corpus shingles shuffled into a sort-merge join:\n" + p.take(3000))
  }

  test("q01 aggregation is whole-stage codegen'd with partial aggregation") {
    val df = SparkEntry.queries("q01_agg_pricing")(spark, sf)
    df.collect()
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("codegen id"), formatted.take(3000))
    assert(plan("q01_agg_pricing").contains("partial_"))
  }

  test("e01 scoring uses the native vec_cosine expression inside whole-stage codegen") {
    val df = SparkEntry.queries("e01_knn_bruteforce")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("vec_cosine"), "native expression missing from plan:\n" + p.take(2000))
    assert(!p.contains("aggregate(zip_with"), "interpreted HOF cosine still in plan:\n" + p.take(2000))
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("codegen id"), formatted.take(3000))
  }

  test("LSH signature stage is the native codegen expression, not interpreted HOFs") {
    import org.apache.spark.sql.functions.col
    val sig = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(graft.ops.SimilarityOps.lshSignature(col("embedding"), 8).as("bucket"))
    sig.collect()
    val p = sig.queryExecution.executedPlan.toString
    assert(p.contains("vec_lsh_signature"), "native signature missing from plan:\n" + p.take(2000))
    assert(!p.contains("aggregate(zip_with") && !p.contains("transform(sequence"),
      "interpreted HOF signature still in plan:\n" + p.take(2000))
    val formatted = sig.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("codegen id"), formatted.take(3000))
  }

  test("IVF index probe is a partition-pruned scan: only probed cells' partitions are read") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.orderBy("vec_id").limit(4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-prune").toString
    val cents = graft.ops.SimilarityOps.ivfBuildIndex(emb, "vec_id", "embedding", dir, nCells = 16)
    val probe = graft.ops.SimilarityOps.ivfProbeIndex(spark.read.parquet(dir), cents, queries,
      "vec_id", "embedding", k = 3, nProbe = 2)
    probe.collect()
    // collect() only descends via children, and AQE wraps stage plans in
    // fields (AdaptiveSparkPlanExec.executedPlan, QueryStageExec.plan) that
    // are NOT children — recurse through them explicitly
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
    }.flatten
    val indexScans = scans(probe.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.fieldNames.contains("cell"))
    assert(indexScans.nonEmpty, "no partitioned index scan in the probe plan:\n" +
      probe.queryExecution.executedPlan.toString.take(3000))
    indexScans.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        "probe scan has no partition filter — it reads every cell:\n" + s.toString.take(2000))
      // the driver metric counts partition dirs actually read: must be a
      // strict subset of the 16 cells (≤ 4 queries × 2 probes)
      s.metrics.get("numPartitions").foreach { m =>
        assert(m.value <= 8 && m.value < 16, s"probe read ${m.value} of 16 cell partitions")
      }
    }
  }

  test("approx_percentile ships a bounded sketch through the shuffle (the 100 TB order-statistics shape)") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    // Both percentile flavors get a map-side partial_ phase; the 100 TB
    // difference is the PARTIAL STATE: approx_percentile's is a
    // QuantileSummaries sketch bounded by the accuracy parameter, while
    // exact percentile's is the group's entire value multiset (the shuffle
    // carries every row's value — correct, but the reason q19 keeps it only
    // as the small-scale oracle anchor and q21 adds the sketch).
    val approx = li.groupBy("l_returnflag")
      .agg(expr("approx_percentile(l_quantity, 0.5, 10000)").as("m"))
    approx.collect()
    val pa = approx.queryExecution.executedPlan.toString
    assert(pa.contains("partial_approx_percentile"),
      "approx_percentile lost its partial phase:\n" + pa.take(2000))
    // pin the sketch implementation (bounded state) rather than trusting
    // the name: the aggregate must be Spark's ApproximatePercentile
    val hasSketchAgg = approx.queryExecution.optimizedPlan.expressions.exists(e =>
      e.collectFirst {
        case a: org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile => a
      }.isDefined) ||
      approx.queryExecution.optimizedPlan.collect {
        case agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
          agg.aggregateExpressions.exists(_.collectFirst {
            case a: org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile => a
          }.isDefined)
      }.exists(identity)
    assert(hasSketchAgg, "q21's sketch is not ApproximatePercentile:\n" + pa.take(1000))
  }

  test("expansion stage has no shuffle (partition-local by design)") {
    val ctxB = spark.sparkContext.broadcast(RemoteContextPool.pool)
    val docs = SyntheticDocs.generate(spark, 100, 4)
    val triples = ExpandStage.triples(ExpandStage.run(docs, ctxB))
    val p = triples.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "expansion stage shuffles:\n" + p.take(2000))
  }

  test("driver contract: entry() returns rows and every query runs at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
    // every declared query must at least execute and return rows at the smoke scale
    for ((name, fn) <- SparkEntry.queries) {
      val n = fn(spark, sf).count()
      assert(n > 0, s"query $name returned 0 rows at sf0.001")
    }
    // every oracle key must have a matching query
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("Profile times each query into noop and writes its AQE final plan") {
    val out = java.nio.file.Files.createTempDirectory("graft-profile")
    // q01 shuffles for its aggregate; q06 is a map-only TakeOrderedAndProject
    val names = Seq("q01_agg_pricing", "q06_topk")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(graft.Profile.run(spark, sf, out.toString, names))
    assert(out.toFile.list().sorted.toSeq == names.map(_ + ".txt"))
    for (n <- names) {
      val plan = java.nio.file.Files.readString(out.resolve(s"$n.txt"))
      assert(plan.contains("isFinalPlan=true"), s"$n:\n" + plan.take(2000))
      assert(json.get(n).isNumber && json.get(n).asDouble > 0, json.toString)
    }
    assert(json.size == names.size, json.toString)
    assert(java.nio.file.Files.readString(out.resolve("q01_agg_pricing.txt")).contains("ShuffleQueryStage"))
  }

  test("Profile.time computes every column: a throwing UDF fails it, while count() prunes the UDF") {
    import org.apache.spark.sql.functions.{col, udf}
    val boom = udf { (x: Long) => if (x >= 0) throw new IllegalStateException("boom"); x }
    val df = spark.range(10).select(boom(col("id")).as("y"))
    assert(df.count() == 10)
    val e = intercept[Exception](graft.Profile.time(df))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(c => String.valueOf(c.getMessage).contains("boom")), e)
  }

  test("html spans: embedded application/ld+json scripts are extracted and expanded") {
    val page =
      """<html><head>
        |<script type="application/ld+json">{"@context":{"@vocab":"http://v/"},"@id":"http://s/h1","p":"q"}</script>
        |<script type="text/javascript">ignore();</script>
        |<script type="application/ld+json">{"@context":{"@vocab":"http://v/"},"@id":"http://s/h2","r":"s"}</script>
        |</head><body>page</body></html>""".stripMargin
    val doc = Doc("doc-html", Seq(
      Span("html", page, null, 1),
      Span("html", "<html><body>no scripts here</body></html>", null, 2)))
    val (triples, errors) = ExpandStage.expandDoc(doc, RemoteContextPool.fullLoader, JsonLdOptions(), Map.empty)
    // extractAllScripts: both ld+json scripts of span 1 contribute triples
    assert(triples.exists(t => t.subj == "http://s/h1" && t.pred == "http://v/p"))
    assert(triples.exists(t => t.subj == "http://s/h2" && t.pred == "http://v/r"))
    // a page with no candidate scripts lands in the error channel, job survives
    assert(errors.exists(e => e.span_offset == 2 && e.code == "loading document failed"))
  }

  test("expansion error channel captures malformed spans without failing the job") {
    import spark.implicits._
    val bad = Doc("doc-bad", Seq(
      Span("jsonld", "{not json at all", null, 1),
      Span("jsonld", """{"@context":{"@version":9},"a":"b"}""", null, 2),
      Span("jsonld", """{"@context":{"@vocab":"http://v/"},"ok":"yes","@id":"http://s/"}""", null, 3)))
    val (triples, errors) = ExpandStage.expandDoc(bad, RemoteContextPool.fullLoader, JsonLdOptions(), Map.empty)
    assert(errors.size == 2)
    assert(errors.exists(_.code == "invalid @version value"))
    assert(triples.nonEmpty) // the valid span still contributes

    // the span prologue expandDoc and the j05/j07/j09 queries share: a good
    // span, FastJson's IllegalArgumentException, an unknown pool context
    // (a JsonLdError) and an html page
    val four = Doc("doc-four", Seq(
      Span("jsonld", """{"@context":{"@vocab":"http://v/"},"@id":"rel","ok":"yes"}""", null, 1),
      Span("jsonld", "{not json at all", null, 2),
      Span("jsonld", s"""{"@context":"${RemoteContextPool.baseIri}nope.jsonld","a":"b"}""", null, 3),
      Span("html", """<html><head><script type="application/ld+json">""" +
        """{"@context":{"@vocab":"http://v/"},"@id":"h","r":"s"}</script></head></html>""", null, 4)))
    val state = new graft.core.ApiState(JsonLdOptions(), RemoteContextPool.fullLoader)
    val bases = Seq.newBuilder[String]
    val results = four.spans.map(span => ExpandStage.withSpan(four, span, JsonLdOptions()) { (json, opts) =>
      bases += opts.base.get
      graft.core.JsonLdApi.expand(graft.core.JsonLdInput.Doc(json), state.withOptions(opts)).size
    })
    assert(bases.result() == Seq(1, 3, 4).map(o => s"${ExpandStage.DocNs}doc-four/span/$o"))
    assert(results(0) == Right(1) && results(3) == Right(1), results)
    val failures = results.collect { case Left(e) => (e.code, e.span_offset, e.message) }
    // expandDoc's error channel reports exactly these failures
    assert(failures == Seq(
      ("loading document failed", 2, "expected object key at offset 1"),
      ("loading remote context failed", 3, "loading remote context failed\ncaused by: loading document " +
        s"failed: no vendored document for ${RemoteContextPool.baseIri}nope.jsonld")))
    val (fourTriples, fourErrors) = ExpandStage.expandDoc(four, RemoteContextPool.fullLoader, JsonLdOptions(), Map.empty)
    assert(fourErrors.map(e => (e.code, e.span_offset, e.message)) == failures)
    assert(fourTriples.map(_.subj) == Seq("rel", "h").map(id => s"${ExpandStage.DocNs}doc-four/span/$id"))
  }
}
