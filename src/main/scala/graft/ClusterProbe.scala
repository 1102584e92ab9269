package graft

import org.apache.spark.sql.SparkSession
import graft.spark.{ExpandStage, RemoteContextPool, SyntheticDocs}

/** spark-submit entry for [[Bench]]'s N-vs-4N executor scaling legs; the
  * master (`local-cluster[1,k,M]` or `local-cluster[4,k,M]`) comes from
  * spark-submit, so each executor is its own JVM, as on a real cluster.
  *
  *   args: <docs> <partitions>
  *
  * Warms on a few docs, prints a ready line, then times one rep of `docs`
  * synthetic documents (expand → toRdf → count) per "rep" line on stdin,
  * until "quit" or EOF. On a fresh cluster the first reps run slow.
  */
object ClusterProbe {
  def main(args: Array[String]): Unit = {
    val (n, parts) = (args(0).toLong, args(1).toInt)
    val spark = SparkSession.builder().appName("graft-cluster-probe").getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val ctxB = sc.broadcast(RemoteContextPool.pool)
    def timed(docs: Long): (Double, Long) = {
      val ds = SyntheticDocs.generate(spark, docs, parts)
      val t0 = System.nanoTime()
      val c = ExpandStage.triples(ExpandStage.run(ds, ctxB)).count()
      ((System.nanoTime() - t0) / 1e9, c)
    }
    timed(1000L * sc.defaultParallelism)
    // statusTracker counts the driver too; a rep that ran before every
    // executor registered is not a valid leg, and Bench rejects it
    def execs: Int = sc.statusTracker.getExecutorInfos.length - 1
    println(s"[cluster-probe] ready master=${sc.master} execs=$execs")
    System.out.flush()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    Iterator.continually(in.readLine()).takeWhile(l => l != null && l.trim != "quit")
      .filter(_.trim == "rep").zipWithIndex.foreach { case (_, i) =>
        val s0 = StealMeter.snap()
        val (t, c) = timed(n)
        val steal = StealMeter.share(s0, StealMeter.snap())
        println(f"[cluster-probe] rep=${i + 1} master=${sc.master} docs=$n triples=$c sec=$t%.3f thr=${c / t}%.0f steal=$steal%.3f execs=$execs")
        System.out.flush()
      }
    spark.stop()
  }
}
