package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}

/** One timed client call: its kind, wall time, and the top-k queries it
  * answered (a batch call answers one per query row, a write none). */
final case class Timed(kind: String, wallNs: Long, queries: Int) {
  def ms: Double = wallNs / 1e6
}

/** The closed-loop client: one thread that issues a call, waits for its
  * rows, checks them, and only then issues the next. Every call is timed
  * the same way whether or not a [[Recorder]] is attached: the API call
  * that returns the DataFrame, forcing its physical plan, and `collect`.
  * A call that throws or fails its check counts as failed. */
final class Client(var recorder: Option[Recorder]) {
  val timed = mutable.ArrayBuffer.empty[Timed]
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]

  /** Runs one call; returns its result and wall time, or None if it threw. */
  private def run[A](kind: String)(body: Array[Long] => A): Option[(A, Long)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = recorder match {
        case Some(r) => r.op(kind)(body)
        case None => body(new Array[Long](3))
      }
      Some(out -> (System.nanoTime() - t0))
    } catch {
      case e: Exception =>
        fail(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** A read: `call` builds the result DataFrame, the client forces its plan
    * and collects it, then `check` returns an error message or None. */
  def read(kind: String, queries: Int = 1)(call: => DataFrame)(
      check: Array[Row] => Option[String]): Unit =
    run(kind) { ph =>
      val t0 = System.nanoTime()
      val df = call
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val rows = df.collect()
      val t3 = System.nanoTime()
      ph(0) = t1 - t0; ph(1) = t2 - t1; ph(2) = t3 - t2
      rows
    }.foreach { case (rows, ns) =>
      timed += Timed(kind, ns, queries)
      check(rows).foreach(m => fail(s"$kind: $m"))
    }

  /** A write: the whole call is the op. */
  def write(kind: String)(call: => Unit): Boolean =
    run(kind) { ph =>
      val t0 = System.nanoTime()
      call
      ph(0) = System.nanoTime() - t0
    }.map { case (_, ns) => timed += Timed(kind, ns, 0) }.isDefined

  /** An explicit index refresh, timed as its own op kind. */
  def refresh(call: => Unit): Unit = write("refresh")(call)

  /** An end-of-run check: counts as one attempted op, failed if it throws
    * or returns an error message. */
  def verify(what: String)(check: => Option[String]): Unit = {
    attempted += 1
    try check.foreach(m => fail(s"$what: $m"))
    catch { case e: Exception => fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }
}

object Client {
  def pairs(rows: Array[Row], id: String = "id", score: String = "score")
      : Seq[(String, Double)] =
    rows.toSeq.map(r => r.getAs[String](id) -> r.getAs[Double](score))
}
