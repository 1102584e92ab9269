package graftbench

import graft.spark._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Host-shaped KG-construction benchmark. Treats graft as a library: builds
  * a seeded `(doc_id, spans)` parquet table, then times calls into the
  * public entry points on `local[nproc]`.
  *
  *   kgbench.Main --workload build|expand|canon --seed N --seconds S --trace 0|1 --work DIR
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed`, `metrics`. `--trace 0` reports the end-to-end metrics;
  * `--trace 1` reports the per-layer ones.
  */
object Main {
  val Recipes: Map[String, Recipe] = Map(
    "build" -> Recipe(docs = 4000, slot = 0, htmlEvery = 0, errorEvery = 100, deepEvery = 0, passSeconds = 4.0),
    "expand" -> Recipe(docs = 20000, slot = 1, htmlEvery = 4, errorEvery = 50, deepEvery = 0, passSeconds = 0.8),
    "canon" -> Recipe(docs = 6000, slot = 2, htmlEvery = 0, errorEvery = 100, deepEvery = 5, passSeconds = 3.0))

  /** `Materialize.run` buckets in the build workload */
  val BuildBuckets = 2
  /** setups per run; the reported setup time is their median */
  val Setups = 3
  /** timed passes per untraced run, at least, whatever `--seconds` says;
    * a traced run makes at least five (U, then T U U T) */
  val MinPasses = 3
  /** single-thread `expandDoc` replays of the sample in each set-up */
  val EngineWarmups = 8
  /** docs replayed single-threaded for per-layer times and output checks */
  val SampleDocs = 1500
  /** every error code the corpora produce; anything else counts as "other" */
  val ErrorCodes = Vector("loading document failed", "loading remote context failed", "span-order")
  val MB = 1024.0 * 1024.0

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  final case class Pass(wall: Double, triples: Long, errors: Long, window: Window, traced: Boolean,
      extra: Map[String, Double] = Map.empty, out: String = null)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts.getOrElse("--workload", "")
    val recipe = Recipes.getOrElse(workload, sys.error(s"unknown workload '$workload' (${Recipes.keys.mkString(", ")})"))
    val seed = opts.getOrElse("--seed", "1").toLong
    val seconds = opts.getOrElse("--seconds", "10").toDouble
    val trace = opts.getOrElse("--trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("--work", sys.error("--work <dir> is required"))).toAbsolutePath.toString
    val nproc = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    new Main(workload, recipe, seed, seconds, trace, work, nproc).run()
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
    }
  }

  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .map(f => Files.size(f)).sum
      finally s.close()
    }
  }

  def json(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"metric is not a finite number: $v") else java.lang.Double.toString(v)
}

final class Main(workload: String, recipe: Recipe, seed: Long, seconds: Double, trace: Boolean,
    work: String, nproc: Int) {
  import Main._

  private val corpusDir = s"$work/corpus"
  private var spark: SparkSession = _
  private var probe: Probe = _
  private var ctxB: org.apache.spark.broadcast.Broadcast[Map[String, String]] = _
  private var splitBytes = 0L
  private var corpusFiles = Vector.empty[String]
  private val failures = ArrayBuffer[String]()

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failures += what; System.err.println(s"[kgbench] CHECK FAILED: $what") }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private def log(s: String): Unit =
    System.err.println(f"[kgbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%6.1fs] $s")

  private def startSession(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-kgbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
    // one corpus file per input split, so every core gets whole files
    if (splitBytes > 0) b.config("spark.sql.files.maxPartitionBytes", splitBytes.toString)
      .config("spark.sql.files.openCostInBytes", "0")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` under a job group when tracing; the probe attributes its tasks to `group`. */
  private def grouped[T](traced: Boolean, group: String)(body: => T): T =
    if (!traced) body
    else {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
    }

  private def readDocs(): Dataset[Doc] = {
    val s = spark
    import s.implicits._
    spark.read.parquet(corpusDir).as[Doc]
  }

  /** Referenced remote contexts, resolved on the Spark driver and broadcast, as `Materialize.run` does. */
  private def broadcastContexts(): Unit = {
    val s = spark
    import s.implicits._
    ctxB = RemoteContextPool.broadcastResolved(spark,
      readDocs().select(explode(col("spans")).as("s"))
        .filter(col("s.kind") === "jsonld" && col("s.text").contains(RemoteContextPool.baseIri))
        .select(col("s.text")).as[String]
        .flatMap(t => RemoteContextPool.knownIris.filter(t.contains)))
  }

  // ---------------------------------------------------------------- workloads

  private def errorCounts(c: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    ErrorCodes.map(code => sum(when(c === code, 1L).otherwise(0L)).as(code))

  private def observeRows(rows: Dataset[PipeRow], obs: Observation): Dataset[PipeRow] =
    rows.observe(obs, count(when(col("triple").isNotNull, 1)).as("triples"),
      (count(when(col("error").isNotNull, 1)).as("errors") +: errorCounts(col("error.code"))): _*)

  private def observeDocs(docs: Dataset[Doc], obs: Observation): Dataset[Doc] = {
    def kind(k: String) = sum(size(filter(col("spans"), s => s("kind") === k)).cast("long")).as(k)
    docs.observe(obs, count(lit(1)).as("docs"), Seq("text", "jsonld", "html", "media").map(kind): _*)
  }

  private def longs(obs: Observation): Map[String, Long] =
    obs.get.map { case (k, v) => k -> (if (v == null) 0L else v.asInstanceOf[Number].longValue) }

  private var buildRun = 0

  private def buildPass(traced: Boolean): Pass = {
    val out = s"$work/build/run_$buildRun"
    deleteTree(s"$work/build/run_${buildRun - 1}")
    buildRun += 1
    val docs = readDocs()
    val t0 = now()
    val rep = grouped(traced, "materialize")(Materialize.run(docs, out, buckets = BuildBuckets))
    val t1 = now()
    grouped(traced, "finalize")(Materialize.finalizeGraph(spark, out))
    val t2 = now()
    check(rep.processed == rep.buckets && rep.skipped == 0,
      s"build: fresh output dir must process every bucket, got $rep")
    Pass(secs(t0, t2), rep.triples, rep.errors, probe.take(), traced,
      Map("materialize.run_s" -> secs(t0, t1), "materialize.finalize_s" -> secs(t1, t2),
        "buckets" -> rep.buckets.toDouble), out)
  }

  private def expandPass(traced: Boolean): Pass = {
    val obsDocs = Observation()
    val obsRows = Observation()
    val rows = observeRows(ExpandStage.run(observeDocs(readDocs(), obsDocs), ctxB), obsRows)
    val t0 = now()
    grouped(traced, "expandstage") {
      ExpandStage.triples(rows).write.format("noop").mode(SaveMode.Overwrite).save()
    }
    val t1 = now()
    val r = longs(obsRows)
    val d = longs(obsDocs)
    Pass(secs(t0, t1), r("triples"), r("errors"), probe.take(), traced,
      (r ++ d).map { case (k, v) => k -> v.toDouble })
  }

  /** Input triples and errors of the canon corpus, counted once by an
    * observed `ExpandStage` pass into the noop sink: an observation placed
    * under `Canonicalize`'s local checkpoints is not reported.
    */
  private lazy val canonInput: Map[String, Long] = {
    val obs = Observation()
    ExpandStage.triples(observeRows(ExpandStage.run(readDocs(), ctxB), obs))
      .write.format("noop").mode(SaveMode.Overwrite).save()
    longs(obs)
  }

  private def canonPass(traced: Boolean): Pass = {
    val obsOut = Observation()
    val triples = ExpandStage.triples(ExpandStage.run(readDocs(), ctxB))
    val t0 = now()
    val rounds = grouped(traced, "canonicalize") {
      val (canon, rounds) = Canonicalize.globalWithRounds(triples, rounds = 3, scoped = true,
        relabelRoles = Canonicalize.AllRoles)
      canon.observe(obsOut, count(lit(1)).as("rows")).write.format("noop").mode(SaveMode.Overwrite).save()
      rounds
    }
    val t1 = now()
    val outRows = longs(obsOut)("rows")
    check(rounds > 0, s"canon: refinement rounds must run, got $rounds")
    Pass(secs(t0, t1), outRows, 0L, probe.take(), traced, Map("rounds" -> rounds.toDouble))
  }

  private def runPass(traced: Boolean): Pass = workload match {
    case "build" => buildPass(traced)
    case "expand" => expandPass(traced)
    case "canon" => canonPass(traced)
  }

  /** The untimed warm-up of a set-up: single-thread `expandDoc` replays of
    * the sample, then `ExpandStage` into the noop sink over a quarter of the
    * corpus files. Both are the stage every workload starts with.
    */
  private def warmUp(sample: Vector[Doc], loader: graft.core.DocumentLoader): Unit = {
    (0 until EngineWarmups).foreach(_ => Replay.expected(sample, loader))
    val quarter = corpusFiles.take(math.max(1, corpusFiles.size / 4))
    val s = spark
    import s.implicits._
    ExpandStage.triples(ExpandStage.run(spark.read.parquet(quarter: _*).as[Doc], ctxB))
      .write.format("noop").mode(SaveMode.Overwrite).save()
  }

  // ------------------------------------------------------------------ run

  def run(): Unit = {
    spark = startSession()
    val firstSession = (System.currentTimeMillis() - jvmStart) / 1000.0

    // corpus: the benchmark's own cost, outside every timed span
    val g0 = now()
    val docsVec = Corpus.generate(seed, recipe, corpusBlocks)
    val stats = Corpus.stats(docsVec)
    log(f"generated in ${secs(g0, now())}%.1fs")
    writeCorpus()
    log(f"corpus: $stats in ${secs(g0, now())}%.1fs, split ${splitBytes / 1024} KiB")

    val sample = docsVec.indices.by(math.max(1, docsVec.size / SampleDocs)).map(docsVec).toVector
    val loader = RemoteContextPool.loaderFor(RemoteContextPool.resolveAll(RemoteContextPool.knownIris))

    // set-up: session, context broadcast, untimed warm-up; repeated so that
    // the reported figure is a median, the first counted from JVM start
    val setups = (0 until Setups).map { k =>
      val t0 = now()
      if (k > 0) spark = startSession()
      val t1 = now()
      probe = new Probe(spark.sparkContext)
      broadcastContexts()
      val t2 = now()
      warmUp(sample, loader)
      probe.take()
      log(f"setup $k: session ${secs(t0, t1)}%.2fs broadcast ${secs(t1, t2)}%.2fs warm-up ${secs(t2, now())}%.2fs")
      val s = secs(t0, now()) + (if (k == 0) firstSession else 0.0)
      if (k < Setups - 1) spark.stop()
      s
    }
    log(s"session at $firstSession s; setups: ${setups.map(s => f"$s%.2f").mkString(" ")}")

    // Timed window: a fixed pass count rather than a deadline. The JIT keeps
    // speeding passes up for many passes, so a run that fitted one more pass
    // in the window would report a warmer median than its neighbours. A
    // traced run leaves its first, coldest pass untraced and out of the
    // overhead comparison, then alternates T U U T T U ..., so neither kind
    // always runs warmer.
    val count = math.max(if (trace) 5 else MinPasses, math.round(seconds / recipe.passSeconds).toInt)
    val passes = ArrayBuffer[Pass]()
    val steal0 = graft.StealMeter.snap()
    while (passes.size < count)
      passes += runPass(traced = trace && passes.nonEmpty && (passes.size - 1) % 4 % 3 == 0)
    val steal = graft.StealMeter.share(steal0, graft.StealMeter.snap())
    log(passes.map(i => f"${i.wall}%.3fs/${i.triples}").mkString("passes: ", " ", ""))

    val first = passes.head
    passes.foreach { i =>
      check(i.triples == first.triples && i.errors == first.errors,
        s"$workload: passes disagree: ${i.triples}/${i.errors} vs ${first.triples}/${first.errors}")
    }
    if (workload == "canon") {
      // output rows equal input rows; input counted outside the window
      passes.foreach(i => check(i.triples == canonInput("triples"),
        s"canon: output rows ${i.triples} != input triples ${canonInput("triples")}"))
    }
    if (workload == "expand") {
      val e = first.extra
      check(e("docs") == stats.docs && e.getOrElse("jsonld", -1.0) == stats.jsonld && e.getOrElse("html", -1.0) == stats.html,
        s"$workload: observed docs/spans ${e} != generated $stats")
    }

    val expected = Replay.expected(sample, loader)
    outputChecks(first, passes.last, sample, expected, loader)
    log("checks done")

    val metrics: Vector[(String, Double, String)] =
      if (!trace) {
        val rates = passes.map(i => i.triples / i.wall)
        Vector(
          ("setup_s", Stats.median(setups), "s"),
          ("triples_per_s", Stats.median(rates.toSeq), "1/s"),
          ("error_share", errorRows(first) / stats.engineSpans, "share"))
      } else layerMetrics(passes.toVector, stats, sample, loader, steal, setups.head)

    val failed = passes.size.min(failures.size)
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${json(v)}, "unit": "$u"}""" }.mkString(", ")
    deleteTree(s"$work/build")
    spark.stop()
    println(s"""{"correct": ${failures.isEmpty}, "attempted": ${passes.size}, "failed": $failed, "metrics": {$body}}""")
  }

  private def errorRows(i: Pass): Double =
    (if (workload == "canon") canonInput("errors") else i.errors).toDouble

  /** corpus files: four per core, one block of docs each */
  private def corpusBlocks: Int = 4 * nproc

  private def writeCorpus(): Unit = {
    val s = spark
    import s.implicits._
    val (sd, r, n) = (seed, recipe, corpusBlocks)
    spark.range(0, n, 1, n).as[Long].flatMap(b => Corpus.block(sd, r, b.toInt, n))
      .write.mode(SaveMode.Overwrite).parquet(corpusDir)
    val st = Files.list(Paths.get(corpusDir))
    corpusFiles = try st.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toVector.sorted
    finally st.close()
    splitBytes = corpusFiles.map(f => Files.size(Paths.get(f))).max
    spark.conf.set("spark.sql.files.maxPartitionBytes", splitBytes.toString)
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
  }

  // --------------------------------------------------------- output checks

  private def tripleKey(t: TripleRow) = (t.subj, t.pred, t.obj_kind, t.obj_value, t.obj_datatype, t.obj_lang, t.graph)

  private def outputChecks(first: Pass, last: Pass, sample: Vector[Doc],
      expected: Map[String, (Vector[TripleRow], Vector[DocError])], loader: graft.core.DocumentLoader): Unit = {
    val s = spark
    import s.implicits._
    workload match {
      case "build" =>
        val triples = spark.read.parquet(s"${last.out}/triples")
        val cols = Seq("subj", "pred", "obj_kind", "obj_value", "obj_datatype", "obj_lang", "graph")
        val distinct = triples.select(cols.map(col): _*).distinct().count()
        val graphRows = spark.read.parquet(s"${last.out}/graph").count()
        check(graphRows == distinct, s"build: graph rows $graphRows != distinct triples read back $distinct")
        // written triples of the sample docs: every triple a sample doc
        // expands to is in the graph, and every row stamped with a sample
        // doc id is one of that doc's triples (per-bucket dedup keeps one
        // doc id per duplicate triple, so a doc may own fewer rows)
        val ids = sample.map(_.doc_id)
        val subjects = expected.values.flatMap(_._1.map(_.subj)).toVector.distinct
        val written = triples.as[TripleRow]
          .filter(col("doc_id").isin(ids: _*) || col("subj").isin(subjects: _*)).collect().toVector
        val writtenKeys = written.map(tripleKey).toSet
        val missing = expected.values.flatMap(_._1).map(tripleKey).count(k => !writtenKeys.contains(k))
        check(missing == 0, s"build: $missing expanded triples of the sample docs are not in the output")
        val stray = written.filter(t => expected.contains(t.doc_id))
          .count(t => !expected(t.doc_id)._1.exists(e => tripleKey(e) == tripleKey(t)))
        check(stray == 0, s"build: $stray written rows of sample docs are not in expandDoc's output")
        check(written.exists(t => expected.contains(t.doc_id)), "build: no written rows for the sample docs")

      case "expand" =>
        val obs = Observation()
        val rows = observeRows(ExpandStage.run(readDocs().filter(col("doc_id").isin(sample.map(_.doc_id): _*)), ctxB), obs)
        rows.write.format("noop").mode(SaveMode.Overwrite).save()
        val got = longs(obs)
        val want = expected.values
        val wantCodes = ErrorCodes.map(c => c -> want.map(_._2.count(_.code == c).toLong).sum).toMap
        check(got("triples") == want.map(_._1.size.toLong).sum,
          s"expand: sample triples ${got("triples")} != replay ${want.map(_._1.size).sum}")
        check(got("errors") == want.map(_._2.size.toLong).sum,
          s"expand: sample errors ${got("errors")} != replay ${want.map(_._2.size).sum}")
        ErrorCodes.foreach(c => check(got(c) == wantCodes(c), s"expand: sample '$c' errors ${got(c)} != replay ${wantCodes(c)}"))
        val htmlSpans = sample.flatMap(d => d.spans.filter(_.kind == "html").map(d.doc_id -> _))
        check(htmlSpans.nonEmpty, "expand: sample has no html spans")
        val differing = htmlSpans.count { case (id, sp) =>
          def n(x: Span) = ExpandStage.expandDoc(Doc(id, Seq(x)), loader, graft.core.JsonLdOptions(),
            ExpandStage.aliasDictionary)._1.size
          n(sp) != n(Corpus.unwrap(sp))
        }
        check(differing == 0, s"expand: $differing html spans give another triple count than their jsonld text")

      case "canon" =>
        val pin = graft.SparkEntry.queries("j12_canonical_label_pin")(spark, "").count()
        check(pin == 1, s"canon: j12_canonical_label_pin returned $pin rows, expected 1")
    }
  }

  // ------------------------------------------------------- per-layer metrics

  private def layerMetrics(passes: Vector[Pass], stats: CorpusStats, sample: Vector[Doc],
      loader: graft.core.DocumentLoader, steal: Double, coldSetup: Double): Vector[(String, Double, String)] = {
    val traced = passes.filter(_.traced)
    val untraced = passes.tail.filterNot(_.traced)
    def med(xs: Seq[Double]) = Stats.median(xs)
    val m = ArrayBuffer[(String, Double, String)]()

    val (sharedP, freshP) = Replay.alternating(sample, loader)
    m += (("json.parse_us_per_span", med(sharedP.map(_.parseUsPerSpan) ++ freshP.map(_.parseUsPerSpan)), "us"))
    m += (("html.extract_us_per_span", med(sharedP.map(_.htmlUsPerSpan) ++ freshP.map(_.htmlUsPerSpan)), "us"))
    m += (("expand.us_per_span", med(sharedP.map(_.expandUsPerSpan)), "us"))
    m += (("expand.nocache_us_per_span", med(freshP.map(_.expandUsPerSpan)), "us"))
    m += (("expand.ctx_cache_entries", sharedP.last.ctxCacheEntries.toDouble, "count"))
    m += (("torrdf.us_per_span", med(sharedP.map(_.toRdfUsPerSpan)), "us"))
    m += (("bnodecanon.us_per_doc", med(sharedP.map(_.canonUsPerDoc)), "us"))
    val expandDocUs = med(sharedP.map(_.expandDocUsPerDoc) ++ freshP.map(_.expandDocUsPerDoc))
    m += (("expanddoc.us_per_doc", expandDocUs, "us"))
    m += (("expanddoc.self_us_per_doc", med(sharedP.map(_.expandDocSelfUsPerDoc)), "us"))

    val (engineShare, oneSlotEngineShare, parallelEff) =
      if (workload == "expand") {
        val (subDocs, wallAll, wallOne) = slotWalls()
        (expandDocUs * stats.docs / (nproc * med(traced.map(_.wall)) * 1e6),
          expandDocUs * subDocs / (wallOne * 1e6), wallOne / (nproc * wallAll))
      } else (0.0, 0.0, 0.0)
    m += (("expandstage.engine_share", engineShare, "share"))
    m += (("expandstage.one_slot_engine_share", oneSlotEngineShare, "share"))
    m += (("expandstage.parallel_eff", parallelEff, "share"))

    val first = passes.head
    val errorsByCode: Map[String, Long] = workload match {
      case "build" =>
        val s = spark
        import s.implicits._
        spark.read.parquet(s"${passes.last.out}/errors").groupBy("code").count().as[(String, Long)].collect().toMap
      case "canon" => ErrorCodes.map(c => c -> canonInput(c)).toMap
      case _ => ErrorCodes.map(c => c -> first.extra(c).toLong).toMap
    }
    m += (("expandstage.docs", stats.docs.toDouble, "count"))
    Seq("text" -> stats.text, "jsonld" -> stats.jsonld, "html" -> stats.html, "media" -> stats.media)
      .foreach { case (k, v) => m += ((s"expandstage.spans.$k", v.toDouble, "count")) }
    m += (("expandstage.triples", first.triples.toDouble, "count"))
    ErrorCodes.foreach(c => m += ((s"expandstage.errors.${c.replaceAll("[^a-z]+", "_")}", errorsByCode.getOrElse(c, 0L).toDouble, "count")))
    m += (("expandstage.errors.other", (errorsByCode -- ErrorCodes).values.sum.toDouble, "count"))

    def groupStat(g: String)(f: Window => Double): Double = med(traced.map(i => f(i.window.inGroup(g))))
    if (workload == "canon") {
      m += (("canonicalize.s", med(traced.map(_.wall)), "s"))
      m += (("canonicalize.rounds", first.extra("rounds"), "count"))
      m += (("canonicalize.jobs", groupStat("canonicalize")(_.jobs.size.toDouble), "count"))
      m += (("canonicalize.shuffle_write_mb", groupStat("canonicalize")(_.shuffleWriteBytes / MB), "MB"))
      m += (("canonicalize.task_skew", groupStat("canonicalize")(_.taskSkew), "ratio"))
    } else Seq("s" -> "s", "rounds" -> "count", "jobs" -> "count", "shuffle_write_mb" -> "MB", "task_skew" -> "ratio")
      .foreach { case (n, u) => m += ((s"canonicalize.$n", 0.0, u)) }

    if (workload == "build") {
      val s = spark
      import s.implicits._
      val out = passes.last.out
      val bucketS = spark.read.parquet(s"$out/lineage").select("wall_ms").as[Long].collect().map(_ / 1000.0).toSeq
      val buckets = first.extra("buckets")
      val both = (w: Window) => w.inGroup("materialize").shuffleWriteBytes + w.inGroup("finalize").shuffleWriteBytes
      val tripleBytes = treeBytes(s"$out/triples")
      m += (("materialize.run_s", med(traced.map(_.extra("materialize.run_s"))), "s"))
      m += (("materialize.finalize_s", med(traced.map(_.extra("materialize.finalize_s"))), "s"))
      m += (("materialize.bucket_s.p50", med(bucketS), "s"))
      m += (("materialize.bucket_s.max", bucketS.max, "s"))
      m += (("materialize.jobs_per_bucket", groupStat("materialize")(_.jobs.size / buckets), "count"))
      m += (("materialize.input_mb_read", groupStat("materialize")(_.inputBytes / MB), "MB"))
      m += (("materialize.shuffle_write_mb", med(traced.map(i => both(i.window) / MB)), "MB"))
      m += (("materialize.output_mb", Seq("triples", "errors", "graph").map(d => treeBytes(s"$out/$d")).sum / MB, "MB"))
      m += (("materialize.bytes_per_triple", tripleBytes.toDouble / first.triples, "B"))
    } else Seq("run_s" -> "s", "finalize_s" -> "s", "bucket_s.p50" -> "s", "bucket_s.max" -> "s",
      "jobs_per_bucket" -> "count", "input_mb_read" -> "MB", "shuffle_write_mb" -> "MB", "output_mb" -> "MB",
      "bytes_per_triple" -> "B").foreach { case (n, u) => m += ((s"materialize.$n", 0.0, u)) }

    m += (("spark.task_busy_share", med(traced.map(i => i.window.runMs / (nproc * i.wall * 1000))), "share"))
    m += (("spark.gc_share", med(traced.map(i => i.window.gcMs.toDouble / math.max(1L, i.window.runMs))), "share"))
    m += (("spark.spill_mb", med(traced.map(_.window.spillDiskBytes / MB)), "MB"))
    m += (("spark.exec_mem_peak_mb", med(passes.map(_.window.peakExecBytes / MB)), "MB"))
    m += (("spark.jobs", med(traced.map(_.window.jobs.size.toDouble)), "count"))
    m += (("spark.job_wall_share", med(traced.map(i => i.window.jobMs / (i.wall * 1000))), "share"))
    m += (("host.steal_share", if (steal.isNaN) 0.0 else steal, "share"))
    m += (("trace.overhead", med(traced.map(_.wall)) / med(untraced.map(_.wall)) - 1, "share"))
    m += (("setup.cold_s", coldSetup, "s"))
    m.toVector
  }

  /** `ExpandStage` into the noop sink over half the corpus files, with all
    * `nproc` slots and in one task (`coalesce(1)`), in the order (all, one)
    * (one, all). Returns the docs in that half and the median wall of each.
    */
  private def slotWalls(): (Long, Double, Double) = {
    val sub = corpusFiles.take(corpusFiles.size / 2)
    val s = spark
    import s.implicits._
    def wall(oneSlot: Boolean): Double = {
      val docs = spark.read.parquet(sub: _*).as[Doc]
      val t0 = now()
      ExpandStage.triples(ExpandStage.run(if (oneSlot) docs.coalesce(1) else docs, ctxB))
        .write.format("noop").mode(SaveMode.Overwrite).save()
      secs(t0, now())
    }
    val pairs = (0 until 2).map(r => if (r % 2 == 0) (wall(false), wall(true)) else { val one = wall(true); (wall(false), one) })
    (readDocs().count() * sub.size / corpusFiles.size, Stats.median(pairs.map(_._1)), Stats.median(pairs.map(_._2)))
  }
}
