package graft

import java.nio.file.{Files, Paths}
import java.util.Locale
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev measurement of the SparkEntry queries (the pipeline itself is measured
  * by `kgbench/run.py`). Each query runs once into the `noop` sink, which
  * computes every column of every row and discards it — `count()` would let
  * the optimizer prune columns and final sorts (d03's features, j01's sort).
  * The AQE final plan of that run goes to `<outDir>/<query>.txt`; stdout gets
  * one JSON line of seconds per query.
  *
  * The session is [[Verify.session]] on `SPARK_GRAFT_CPUS` cores (default:
  * the JVM's processor count) over `SPARK_GRAFT_SF_DIR` (default sf0.1).
  * A query's seconds run from the start of its build to the end of its
  * write, so work a query runs while it is built is counted: j10's stage
  * write, e07's index build, and `Canonicalize`'s scope shuffle and pass 1
  * in j02, j11 and j12.
  *
  * Usage: runMain graft.Profile <outDir> [query ...]   (no names: all queries)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Verify.session(cpus)
    try println(run(spark, sfDir, args(0), args.drop(1).toSeq))
    finally spark.stop()
  }

  /** Seconds to build `query` and write every row into the `noop` sink: the
    * clock starts before the build. The one query timer of [[run]] and of
    * [[Bench]]'s headline; it fails when any column of any row fails. */
  def time(query: => DataFrame): Double = {
    val t0 = System.nanoTime()
    query.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Times and plans `names` (every query when empty); returns the JSON line. */
  def run(spark: SparkSession, sfDir: String, outDir: String, names: Seq[String]): String = {
    // The noop write plans and runs its own QueryExecution; the listener
    // hands it back (asynchronously, in execution order) for its final plan.
    // j10/e07's eager parquet writes report as "command", not "overwrite".
    val writes = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "overwrite") writes.put(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // AQE skips plans with no exchange (q06's TakeOrderedAndProject);
    // forcing it makes every plan file end in the runtime-final plan
    val force = "spark.sql.adaptive.forceApply"
    val prior = spark.conf.getOption(force)
    spark.conf.set(force, true)
    Files.createDirectories(Paths.get(outDir))
    spark.listenerManager.register(listener)
    try {
      val todo = if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names
      todo.map { name =>
        val sec = time(SparkEntry.queries(name)(spark, sfDir))
        val qe = Option(writes.poll(60, TimeUnit.SECONDS))
          .getOrElse(throw new IllegalStateException(s"$name: the noop write reported no plan"))
        Files.writeString(Paths.get(outDir, s"$name.txt"),
          qe.explainString(ExplainMode.fromString("formatted")))
        "\"%s\": %.3f".formatLocal(Locale.ROOT, name, sec)
      }.mkString("{", ", ", "}")
    } finally {
      spark.listenerManager.unregister(listener)
      prior.fold(spark.conf.unset(force))(spark.conf.set(force, _))
    }
  }
}
