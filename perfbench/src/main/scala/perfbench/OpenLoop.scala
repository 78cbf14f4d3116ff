package perfbench

/** An open-loop schedule on one thread: operation `i` is due at
  * `start + i * interval`, whether or not earlier ones have finished.
  * When an operation overruns, later ones are sent late, and their
  * latency still counts from the due time, so a stall is charged to every
  * request it delayed and not only to the one that met it. */
final class OpenLoop(intervalNanos: Long,
    clock: () => Long = () => System.nanoTime(),
    sleepUntil: Long => Unit = OpenLoop.sleepUntil) {
  require(intervalNanos > 0)

  /** Run `op(i)` for every due time in [startNanos, endNanos); `op`
    * returns whether the operation succeeded. */
  def run(startNanos: Long, endNanos: Long)(op: Int => Boolean): Seq[OpenLoop.Sample] = {
    val out = Vector.newBuilder[OpenLoop.Sample]
    var i = 0
    var due = startNanos
    while (due < endNanos) {
      sleepUntil(due)
      val sent = clock()
      val ok = try op(i) catch { case _: Exception => false }
      out += OpenLoop.Sample(i, due, sent, clock(), ok)
      i += 1
      due = startNanos + i * intervalNanos
    }
    out.result()
  }
}

object OpenLoop {
  /** One scheduled operation: when it was due, sent and done (nanos). */
  final case class Sample(index: Int, dueNanos: Long, sentNanos: Long,
      doneNanos: Long, ok: Boolean) {
    def latencyMs: Double = (doneNanos - dueNanos) / 1e6
    def lateMs: Double = (sentNanos - dueNanos) / 1e6
  }

  def sleepUntil(deadline: Long): Unit = {
    var left = deadline - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = deadline - System.nanoTime()
    }
  }
}
