package graft

import graft.core._
import graft.spark.{ExpandStage, RemoteContextPool, SyntheticDocs}

/** Pure-engine scaling probe: the per-document engine (generate → expand →
  * toRdf → canonical labels) over a doc-id range on a fixed thread count,
  * with NO Spark involvement. Bench forks this as 1 process × k threads vs
  * 4 processes × k threads — the exact executor topology of the N-vs-4N
  * legs minus the Spark layer. The resulting ratio is the hardware + JVM
  * scaling ceiling for THIS workload on THIS box (allocation- and
  * memory-bandwidth-heavy JSON processing scales worse k→4k busy cores than
  * cache-resident compute); Spark-layer efficiency = cluster ratio / this.
  *
  *   args: <threads> <docStart> <docEnd>
  *   prints: [engine-probe] sec=<timed main range, after warmup>
  */
object EngineProbe {

  private def run(threads: Int, start: Long, end: Long): Long = {
    val ctr = new java.util.concurrent.atomic.AtomicLong(start)
    val out = new java.util.concurrent.atomic.AtomicLong()
    val ts = (1 to threads).map { _ =>
      new Thread(() => {
        val loader = RemoteContextPool.loaderFor(RemoteContextPool.pool)
        val state = new ApiState(JsonLdOptions(), loader)
        var triples = 0L
        var i = ctr.getAndIncrement()
        while (i < end) {
          val (t, _) = ExpandStage.expandDoc(SyntheticDocs.generateDoc(i), state, ExpandStage.aliasDictionary)
          triples += t.size
          i = ctr.getAndIncrement()
        }
        out.addAndGet(triples)
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    out.get()
  }

  def main(args: Array[String]): Unit = {
    val threads = args(0).toInt
    val start = args(1).toLong
    val end = args(2).toLong
    val warm = math.max((end - start) / 5, 20000L)
    run(threads, start, start + warm) // JIT warmup (untimed)
    run(threads, start, start + warm)
    // start barrier: when several probe processes form one leg, their timed
    // windows must overlap fully (JVM start/pretouch skew otherwise lets a
    // late process run with less contention and distorts the leg wall time)
    println("[engine-probe] ready")
    System.out.flush()
    scala.io.StdIn.readLine()
    val t0 = System.nanoTime()
    val triples = run(threads, start, end)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[engine-probe] threads=$threads docs=${end - start} triples=$triples sec=$sec%.3f")
  }
}
