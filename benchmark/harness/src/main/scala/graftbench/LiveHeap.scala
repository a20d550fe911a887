package graftbench

import java.lang.management.ManagementFactory

/** The heap still in use after the measured units, right after a full
  * collection: what the program and its session caches retain. Resident
  * memory and after-young-collection occupancy follow the collector's
  * timing and swung by a third between identical runs; the live set does
  * not.
  */
object LiveHeap {

  /** Collect fully and return the heap still in use, in MB. The pause
    * between two collections lets Spark's context cleaner drop the
    * broadcast and shuffle state that the first collection found
    * unreachable.
    */
  def mb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
