package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One finished task, with the job group its stage was submitted under. */
final case class TaskRec(stage: Int, group: String, runMs: Long, gcMs: Long, durationMs: Long,
    peakExecBytes: Long, spillDiskBytes: Long, shuffleWriteBytes: Long, inputBytes: Long)

/** One job: id, group, submission and end time (ms since epoch). */
final case class JobRec(id: Int, group: String, startMs: Long, var endMs: Long = -1L) {
  def wallMs: Long = endMs - startMs
}

/** What the probe saw between two `take` calls. */
final case class Window(tasks: Vector[TaskRec], jobs: Vector[JobRec]) {
  def inGroup(g: String): Window = Window(tasks.filter(_.group == g), jobs.filter(_.group == g))
  def peakExecBytes: Long = if (tasks.isEmpty) 0L else tasks.map(_.peakExecBytes).max
  def runMs: Long = tasks.map(_.runMs).sum
  def gcMs: Long = tasks.map(_.gcMs).sum
  def spillDiskBytes: Long = tasks.map(_.spillDiskBytes).sum
  def shuffleWriteBytes: Long = tasks.map(_.shuffleWriteBytes).sum
  def inputBytes: Long = tasks.map(_.inputBytes).sum
  def jobMs: Long = jobs.map(_.wallMs).sum

  /** max ÷ median task duration of the worst stage with at least two tasks */
  def taskSkew: Double = {
    val perStage = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durationMs.toDouble).sorted
      d.last / math.max(Stats.median(d), 1.0)
    }
    if (perStage.isEmpty) 1.0 else perStage.max
  }
}

/** Benchmark-registered listener: records every task's metrics and every
  * job's group (`spark.jobGroup.id`) from outside the program.
  */
final class Probe(sc: SparkContext) extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val open = new ConcurrentHashMap[Int, JobRec]()
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val j = JobRec(e.jobId, g, e.time)
    open.put(e.jobId, j)
    jobs.add(j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = open.remove(e.jobId)
    if (j != null) j.endMs = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(e.stageId, stageGroup.getOrDefault(e.stageId, ""), m.executorRunTime, m.jvmGCTime,
        e.taskInfo.duration, m.peakExecutionMemory, m.diskBytesSpilled,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
  }

  /** Everything recorded since the previous call, once the bus has delivered it. */
  def take(): Window = {
    org.apache.spark.ListenerBusDrain(sc)
    def drain[T](q: ConcurrentLinkedQueue[T]): Vector[T] = {
      val b = Vector.newBuilder[T]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
    Window(drain(tasks), drain(jobs))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
