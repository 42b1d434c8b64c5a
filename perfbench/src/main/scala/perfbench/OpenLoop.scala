package perfbench

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.locks.LockSupport

/** Open-loop load generator: request i is due at start + i / rate,
  * whether or not earlier requests have returned, and is handed to a
  * pool of at most `threads` workers. Latency is measured from the due
  * time, so a stall is charged to every request that queued behind it;
  * `lateNs` records how late the generator itself dispatched. */
object OpenLoop {

  /** One completed request. `error` is empty when the reply passed its
    * check. */
  final case class Result(i: Int, dueNs: Long, lateNs: Long, endNs: Long, error: String) {
    def latencyNs: Long = endNs - dueNs
  }

  /** @param n     number of requests
    * @param rate  offered requests per second
    * @param call  performs request i and returns "" or an error message
    * @param clock the monotonic clock all times are read from */
  def run(n: Int, rate: Double, threads: Int, clock: () => Long)(call: Int => String): IndexedSeq[Result] = {
    val pool = Executors.newFixedThreadPool(threads)
    val results = new Array[Result](n)
    val periodNs = 1e9 / rate
    val start = clock()
    try {
      (0 until n).foreach { i =>
        val due = start + (i * periodNs).toLong
        var now = clock()
        while (now < due) { LockSupport.parkNanos(due - now); now = clock() }
        val late = now - due
        pool.execute(() => {
          val err =
            try call(i)
            catch { case e: Throwable => e.getClass.getSimpleName + ": " + e.getMessage }
          results(i) = Result(i, due, late, clock(), err)
        })
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
    }
    results.toIndexedSeq
  }
}
