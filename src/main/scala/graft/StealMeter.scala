package graft

/** Hypervisor-steal measurement from /proc/stat. Benchmark hosts are VMs on
  * oversubscribed hardware: measured steal is ~0% at idle but 10%+ of total
  * CPU capacity when every core is busy, even in calm windows, with bursts
  * that slow individual benchmark legs 2-3× (the "host lottery" BENCH.md
  * documents as ±30% drift). Sampling the steal counter around each timed leg turns
  * "this window felt degraded" into a measured, per-leg fact that the
  * scaling-round selection can act on and the bench artifact can report.
  */
object StealMeter {
  /** (steal jiffies, total jiffies across all states incl. idle) — the
    * aggregate "cpu" line, i.e. capacity × elapsed. (-1,-1) if unreadable
    * (non-Linux / restricted proc). */
  def snap(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val parts = src.getLines().next().trim.split("\\s+")
      val vals = parts.drop(1).take(8).map(_.toLong)
      if (vals.length < 8) (-1L, -1L) else (vals(7), vals.sum)
    } finally src.close()
  } catch { case scala.util.control.NonFatal(_) => (-1L, -1L) }

  /** Share of total CPU capacity stolen by the hypervisor between two snaps
    * (0.0–1.0); NaN when either snap failed or no time elapsed. */
  def share(a: (Long, Long), b: (Long, Long)): Double =
    if (a._1 < 0 || b._1 < 0 || b._2 <= a._2) Double.NaN
    else (b._1 - a._1).toDouble / (b._2 - a._2)
}
