package graft

import graft.core._
import graft.spark.{ExpandStage, RemoteContextPool, SyntheticDocs}

/** Pure-engine scaling probe: the per-document engine (generate → expand →
  * toRdf → canonical labels) over a doc-id range on a fixed thread count,
  * with NO Spark involvement. [[Bench]] calls [[run]] in its own JVM, after
  * its session stops, on k and on 4k threads over the same docs: the ratio is
  * the hardware + JVM scaling ceiling for THIS workload on THIS box
  * (allocation- and memory-bandwidth-heavy JSON processing scales worse
  * k→4k busy cores than cache-resident compute); Spark-layer efficiency =
  * cluster ratio / this.
  *
  *   args: <threads> <docStart> <docEnd>
  *   prints: [engine-probe] threads=… docs=… triples=… sec=<timed range, after warmup>
  */
object EngineProbe {

  /** Expands docs `start` until `end`, shared over `threads` threads, each
    * with its own [[ApiState]] over the context pool; the total triple count. */
  private[graft] def run(threads: Int, start: Long, end: Long): Long = {
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
    val t0 = System.nanoTime()
    val triples = run(threads, start, end)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[engine-probe] threads=$threads docs=${end - start} triples=$triples sec=$sec%.3f")
  }
}
