package graft.store

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

/** Wall-clock accounting for the snapshot-store work that runs OUTSIDE
  * stage walls (listings, reader construction, footer reads, manifest
  * IO): `Snapshots.stage`'s wallMs covers compute+write of the stage
  * body, but an ingest also pays driver-side filesystem work every
  * time a stored table is opened — per file and per append set, so it
  * grows with a stage's file count even when the data read is
  * delta-sized, the regime the O(delta) tail exists for. The
  * benchmark's trace reads this breakdown per operation so the
  * off-stage term is attributable instead of "unaccounted".
  *
  * Counters are process-global and thread-safe; `snapshot()` returns
  * (calls, seconds) per name.
  */
object IOStat {
  private val nanos = new ConcurrentHashMap[String, LongAdder]()
  private val calls = new ConcurrentHashMap[String, LongAdder]()

  def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      nanos.computeIfAbsent(name, _ => new LongAdder).add(System.nanoTime() - t0)
      calls.computeIfAbsent(name, _ => new LongAdder).increment()
    }
  }

  def snapshot(): Map[String, (Long, Double)] = {
    val it = nanos.entrySet().iterator()
    var m = Map.empty[String, (Long, Double)]
    while (it.hasNext) {
      val e = it.next()
      m += e.getKey -> (calls.get(e.getKey).sum(), e.getValue.sum() / 1e9)
    }
    m
  }
}
