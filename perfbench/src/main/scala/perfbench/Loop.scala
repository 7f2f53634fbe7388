package perfbench

import java.io.PrintWriter

import scala.collection.mutable
import scala.util.control.NonFatal

/** The closed loop of one client: runs timed operations back to back until
  * the measuring window closes.
  *
  * An operation that throws is recorded as failed with its error and is
  * never a latency sample: a failure must not read as a fast success.
  * `items` is the operation's unit of work (rows landed, query vectors
  * answered); a failed operation answers none.
  */
final class Loop(seconds: Double) {
  import Loop.Op

  private val ops = mutable.ArrayBuffer.empty[Op]
  private var startNs = 0L
  private var stopNs = -1L
  private var untimedNs = 0L

  def start(): Unit = startNs = System.nanoTime()
  def stop(): Unit = stopNs = System.nanoTime()

  def open: Boolean = System.nanoTime() - startNs - untimedNs < (seconds * 1e9).toLong

  /** Run `body`, which returns the items it completed. */
  def timed(kind: String)(body: => Long): Boolean = {
    val t0 = System.nanoTime()
    try {
      val items = body
      ops += Op(kind, ops.size, t0, System.nanoTime() - t0, ok = true, items, "")
      true
    } catch {
      case NonFatal(e) =>
        ops += Op(kind, ops.size, t0, System.nanoTime() - t0, ok = false, 0L,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        false
    }
  }

  /** Work inside the window that is not the system's (output capture for
    * the checks, trace-only counts): excluded from the window. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }

  /** Seconds the window was open for the system's work. */
  def busySeconds: Double = (stopNs - startNs - untimedNs) / 1e9

  def results: Seq[Op] = ops.toSeq

  def write(path: String): Unit = {
    val w = new PrintWriter(path)
    try {
      w.println("kind,seq,start_ns,dur_ns,ok,items,error")
      ops.foreach(o => w.println(Seq(o.kind, o.seq, o.startNs, o.durNs,
        if (o.ok) 1 else 0, o.items,
        "\"" + o.error.replace("\"", "'").replace("\n", " ") + "\"").mkString(",")))
    } finally w.close()
  }
}

object Loop {
  final case class Op(kind: String, seq: Int, startNs: Long, durNs: Long,
      ok: Boolean, items: Long, error: String)
}
