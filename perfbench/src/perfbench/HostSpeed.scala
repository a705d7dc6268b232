package perfbench

import scala.collection.mutable.ArrayBuffer

/** The host's speed during one run, read from a fixed single-threaded
  * kernel timed in the CPU time of the thread that runs it, while the
  * program is idle.
  *
  * On a shared host the CPU time of the same work moved by a factor of two
  * from one hour to the next (other tenants on the same cores, clock
  * changes), for the program and this kernel alike. The timed end-to-end
  * metrics are scaled by [[RefMs]] over the run's median kernel time, so
  * that they read as CPU seconds on a host where the kernel takes
  * [[RefMs]]: the scale cancels the host's speed and leaves the program's
  * work. */
final class HostSpeed {
  private val samplesMs = ArrayBuffer.empty[Double]
  private val bean = java.lang.management.ManagementFactory.getThreadMXBean
  @volatile private var sink = 0L

  /** Runs the kernel until the JIT has compiled it. */
  def warm(): Unit = (1 to 40).foreach(_ => sink += HostSpeed.kernel())

  /** Times `reps` kernel runs on this thread. */
  def sample(reps: Int = 5): Unit = (1 to reps).foreach { _ =>
    val t0 = bean.getCurrentThreadCpuTime
    sink += HostSpeed.kernel()
    samplesMs += (bean.getCurrentThreadCpuTime - t0) / 1e6
  }

  def samples: Int = samplesMs.size

  def medianMs: Double = Stats.median(samplesMs.toSeq)

  /** Factor that turns this run's CPU seconds into reference CPU seconds. */
  def scale: Double = HostSpeed.RefMs / medianMs
}

object HostSpeed {

  /** Kernel CPU time on the reference host: about its median on a 4-vCPU
    * host of the benchmark's sizing runs, at their faster hours. */
  val RefMs = 12.5

  /** Boxed hash-map updates and a sort of longs: pointer chasing,
    * allocation and branches, like the planning and scheduling code that
    * dominates the batch workload. */
  def kernel(): Long = {
    val rnd = new java.util.SplittableRandom(7L)
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var i = 0
    while (i < 150000) {
      val k = java.lang.Long.valueOf(rnd.nextLong(8000L))
      val v = m.get(k)
      m.put(k, java.lang.Long.valueOf(if (v == null) 1L else v + 1L))
      i += 1
    }
    val arr = Array.fill(150000)(rnd.nextLong())
    java.util.Arrays.sort(arr)
    m.size + arr(arr.length / 2)
  }
}
