package graftbench

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit, TimeoutException}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What one op reports: its latency on success, or why it failed. A
  * failed op never yields a latency.
  */
final case class Outcome[T](value: Option[T], latencyS: Double, error: Option[String])

/** Handle an op body uses to time its named parts (QueryDef.run, one
  * chain stage). Part times are always kept; spans only when traced.
  */
final class OpCtx(probe: Option[Probe], clock: Clock) {
  val parts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap[String, Double]()
  var stats: Option[OpStats] = None

  def part[T](key: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      parts(key) = parts.getOrElse(key, 0.0) + (t1 - t0) / 1e9
      probe.foreach(p => p.span(p.root, key, clock.ms(t0), clock.ms(t1)))
    }
  }
}

/** Epoch milliseconds for `System.nanoTime` readings. */
final class Clock {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(nano: Long): Double = epochMs + (nano - nano0) / 1e6
}

/** The benchmark's single client. Each op runs on one worker thread
  * under its own Spark job group; on a throw or a timeout the group is
  * cancelled and the op counts as failed. `deadlineNs` caps every
  * op's timeout so a run ends in bounded time.
  */
final class Client(spark: SparkSession, probe: Option[Probe], opTimeoutS: Double,
                   deadlineNs: Long) {
  private val sc = spark.sparkContext
  val clock = new Clock
  private var seq = 0
  private val threads: ThreadFactory = (r: Runnable) => {
    val t = new Thread(r, "bench-client"); t.setDaemon(true); t
  }
  private var pool = Executors.newSingleThreadExecutor(threads)
  /** Epoch ms at which the first traced-or-timed op started. */
  var firstTimedMs: Double = -1

  /** Run one op. `timed` ops feed the metrics (and the probe when
    * tracing); untimed ones (warm-up, output checks) only report
    * success or failure.
    */
  def run[T](name: String, timed: Boolean)(body: OpCtx => T): (Outcome[T], OpCtx) = {
    seq += 1
    val id = s"op$seq:$name"
    val tracer = if (timed) probe else None
    val ctx = new OpCtx(tracer, clock)
    val stats = tracer.map(_.begin(id, name))
    ctx.stats = stats
    var lat = Double.NaN
    val startNs = System.nanoTime()
    if (timed && firstTimedMs < 0) firstTimedMs = clock.ms(startNs)
    val fut = pool.submit(new Callable[T] {
      def call(): T = {
        sc.setJobGroup(id, name, interruptOnCancel = true)
        try {
          val t0 = System.nanoTime()
          try body(ctx) finally lat = (System.nanoTime() - t0) / 1e9
        } finally sc.clearJobGroup()
      }
    })
    val left = math.max(1L, math.min((opTimeoutS * 1e9).toLong, deadlineNs - System.nanoTime()))
    val result: Either[String, T] =
      try Right(fut.get(left, TimeUnit.NANOSECONDS))
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(id)
          fut.cancel(true)
          abandon(f"timeout after ${left / 1e9}%.0f s")
        case e: ExecutionException =>
          sc.cancelJobGroup(id)
          Left(Option(e.getCause).getOrElse(e).toString.take(400))
      }
    val endNs = System.nanoTime()
    stats.foreach { s =>
      s.wallS = lat
      tracer.foreach(_.end(s, clock.ms(startNs), clock.ms(endNs)))
    }
    result match {
      case Right(v) => (Outcome(Some(v), lat, None), ctx)
      case Left(err) => (Outcome(None, Double.NaN, Some(err)), ctx)
    }
  }

  /** A timed-out body may ignore the interrupt; give it a moment to
    * unwind, then leave its thread behind and continue on a new one.
    */
  private def abandon(msg: String): Either[String, Nothing] = {
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    pool = Executors.newSingleThreadExecutor(threads)
    Left(msg)
  }

  def close(): Unit = pool.shutdownNow()
}
