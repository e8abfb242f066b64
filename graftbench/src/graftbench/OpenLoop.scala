package graftbench

import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable.ArrayBuffer

/** What one operation came to. `failure` is None on success. */
case class Outcome(failure: Option[String])

object Outcome {
  val Ok: Outcome = Outcome(None)
  def fail(why: String): Outcome = Outcome(Some(why))
}

/** One finished operation: times are ns on the monotonic clock. */
case class Sample[A](op: A, dueNs: Long, issuedNs: Long, sentNs: Long, doneNs: Long,
                     outcome: Outcome) {
  /** Latency counted from when the request was due, so a stall that delays
    * later sends shows in their latency. */
  def latencyMs: Double = (doneNs - dueNs) / 1e6
  def serviceMs: Double = (doneNs - sentNs) / 1e6
  /** How late the generator issued the request: the load generator's own
    * delay, which must stay near zero for the latencies to be the server's. */
  def lagMs: Double = (issuedNs - dueNs) / 1e6
  def ok: Boolean = outcome.failure.isEmpty
}

/** Attempted/failed counting: every operation counts as attempted; an
  * exception counts as failed, never as a missing sample. */
object Attempt {
  def apply(body: => Outcome): Outcome =
    try body catch {
      case e: Throwable => Outcome.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  def counts(outcomes: Seq[Outcome]): (Int, Int) =
    (outcomes.length, outcomes.count(_.failure.isDefined))
}

object OpenLoop {

  /** Seeded Poisson arrivals: `n` offsets over `seconds`, whose gaps are the
    * exponential distribution's n quantiles at (i + 0.5) / n, scaled to end
    * where n uniform arrivals would on average, in an order the seed draws.
    * Every seed gets the same gaps, so the same bursts, at other places. */
  def poissonArrivals(seed: Long, n: Int, seconds: Double): Vector[Double] = {
    val gaps = (0 until n).map(i => -math.log(1 - (i + 0.5) / n))
    val scale = seconds * n / (n + 1) / gaps.sum
    new scala.util.Random(seed).shuffle(gaps).scanLeft(0.0)(_ + _ * scale).tail.toVector
  }

  /** Send `ops(i)` at `offsets(i)` seconds after the start, whatever the state
    * of earlier requests, over at most `connections` concurrent senders. A
    * request due while every sender is busy waits in the client queue and
    * that wait counts in its latency. `send` makes the request and returns the
    * check of its reply, which runs after the request's end time is taken. */
  def run[A](offsets: Seq[Double], ops: Seq[A], connections: Int)
            (send: A => () => Outcome): Vector[Sample[A]] = {
    require(offsets.length == ops.length)
    val pool = Executors.newFixedThreadPool(connections)
    val samples = new ArrayBuffer[Sample[A]]()
    val start = System.nanoTime()
    try {
      offsets.zip(ops).foreach { case (off, op) =>
        val due = start + (off * 1e9).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        val issued = System.nanoTime()
        pool.execute { () =>
          val sent = System.nanoTime()
          val reply = try Right(send(op)) catch { case e: Throwable => Left(Attempt(throw e)) }
          val done = System.nanoTime()
          val s = Sample(op, due, issued, sent, done, reply.fold(identity, check => Attempt(check())))
          samples.synchronized(samples += s)
        }
      }
    } finally {
      pool.shutdown()
      while (!pool.awaitTermination(1, TimeUnit.SECONDS)) {}
    }
    samples.synchronized(samples.sortBy(_.dueNs).toVector)
  }
}
