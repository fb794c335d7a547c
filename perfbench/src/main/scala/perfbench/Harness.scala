package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One operation of the closed loop. `pass` is -1 for the untimed
  * warm-up and correctness operations. */
final case class Op(kind: String, pass: Int, seconds: Double, ok: Boolean,
    traced: Boolean)

/** One layer call inside a traced operation, with the Spark work that ran
  * while it was open. Times are epoch milliseconds, the clock Spark stamps
  * job events with. */
final case class Span(name: String, op: Int, startMs: Double, endMs: Double,
    gcS: Double, work: Work)

/** The closed loop: one client that issues the next operation only after
  * the previous one returned, on the calling thread.
  *
  * In a traced run every other operation is traced, alternating between
  * passes so each operation of a pass is traced in every second pass; the
  * untraced half gives the tracing overhead within the same process. A
  * traced run therefore runs at least two passes. */
final class Harness(spark: SparkSession, trace: Boolean) {
  val ops = ArrayBuffer[Op]()
  val spans = ArrayBuffer[Span]()
  val errors = ArrayBuffer[(String, String)]()
  private val tracer = new Tracer(spark)
  private var traced = false
  private var pass = -1
  private var inPass = 0
  /** GC seconds, and CPU seconds stolen by the hypervisor, while the
    * timed loop ran: what a slow run can be checked against. */
  var loopGcS, loopStealS = 0.0

  /** Times `body` as one operation; an exception, including a failed
    * [[Harness.check]], marks it failed, and the loop goes on. */
  def op(kind: String)(body: => Unit): Unit = {
    traced = trace && pass >= 0 && (pass + inPass) % 2 == 0
    inPass += 1
    if (traced) tracer.on()
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch {
        case NonFatal(e) =>
          errors += ((kind, s"${e.getClass.getName}: ${e.getMessage}"))
          false
      }
    val s = (System.nanoTime() - t0) / 1e9
    if (traced) tracer.off()
    ops += Op(kind, pass, s, ok, traced)
    traced = false
  }

  /** Records `body` as a layer span when the current operation is
    * traced; otherwise just runs it. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      tracer.drain(); tracer.take()
      val gc0 = Harness.gcSeconds()
      val t0 = Harness.nowMs()
      try body
      finally {
        val t1 = Harness.nowMs()
        val gc = Harness.gcSeconds() - gc0
        tracer.drain()
        spans += Span(name, ops.size, t0, t1, gc, tracer.take())
      }
    }

  /** Runs whole passes of `onePass` while `more` holds, until one ends
    * after `seconds` have elapsed; at least one pass, two when tracing.
    * Every pass is complete, so every operation of the mix counts
    * equally. */
  def loop(seconds: Double, more: () => Boolean = () => true)(
      onePass: Int => Unit): Unit = {
    val gc0 = Harness.gcSeconds()
    val steal0 = Harness.stealSeconds()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minPasses = if (trace) 2 else 1
    pass = 0
    while (more() && (pass < minPasses || System.nanoTime() < deadline)) {
      inPass = 0
      onePass(pass)
      pass += 1
    }
    pass = -1
    loopGcS = Harness.gcSeconds() - gc0
    loopStealS = Harness.stealSeconds() - steal0
  }
}

object Harness {
  private val epochAtNano = System.currentTimeMillis() - System.nanoTime() / 1e6

  def nowMs(): Double = epochAtNano + System.nanoTime() / 1e6

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new IllegalStateException(s"check failed: $what")

  /** Machine-wide steal time (Linux /proc/stat, in USER_HZ ticks). */
  def stealSeconds(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").lift(8)
      .map(_.toDouble / 100).getOrElse(0.0)
    finally src.close()
  }

  /** Wall seconds of `body`, with its result. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }
}
