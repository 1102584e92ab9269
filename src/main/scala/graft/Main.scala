package graft

import org.apache.spark.sql.SparkSession
import graft.spark._

/** Production spark-submit entry point (north_rule: "launched via
  * spark-submit on a multi-executor cluster"): full KG-construction run —
  * docs → expand → triples (+ error channel) → bucketed materialize with
  * lineage → global dedup graph. Re-running with the same outDir resumes,
  * skipping completed buckets. The input is read only while no bucket is
  * committed: a resume reads the corpus staged by the first run, and fails
  * when `--buckets` differs from that run's.
  *
  *   spark-submit --master local-cluster[4,1,1024] --class graft.Main \
  *     <jar> --out /tmp/graft-run [--docs 100000] [--buckets 16] \
  *     [--input <parquet dir of (doc_id, spans)>]
  *
  * That is 4 executors of 1 core and 1 GiB, for a 4-core host; with 4k
  * cores use `local-cluster[4,k,1024·k]`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val out = opts.getOrElse("--out", sys.error("--out <dir> is required"))
    val buckets = opts.getOrElse("--buckets", "16").toInt
    val spark = SparkSession.builder().appName("graft-kg-construct").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = opts.get("--input") match {
      case Some(path) => spark.read.parquet(path).as[Doc]
      case None =>
        val n = opts.getOrElse("--docs", "100000").toLong
        SyntheticDocs.generate(spark, n, spark.sparkContext.defaultParallelism.max(8))
    }
    val t0 = System.nanoTime()
    val report = Materialize.run(docs, out, buckets = buckets)
    val graph = Materialize.finalizeGraph(spark, out)
    val graphSize = graph.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[graft.Main] buckets=${report.buckets} processed=${report.processed} resumed_skips=${report.skipped} " +
      f"triples=${report.triples} errors=${report.errors} graph_rows=$graphSize wall=$sec%.1fs " +
      f"lineage=$out/lineage graph=$out/graph")
    spark.stop()
  }
}
