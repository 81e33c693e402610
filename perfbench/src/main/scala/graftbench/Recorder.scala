package graftbench

import scala.collection.mutable

/** One op of the closed loop. Only ops with `timed` set are measured. */
final case class Sample(
    id: Int, kind: String, name: String, start: Double, ms: Double, ok: Boolean, timed: Boolean)

/** Runs ops and keeps the record. An op that throws, or whose result the
  * model rejects, is a failure: it is logged by name and never counted as
  * a timed success.
  */
final class Recorder(tracer: Tracer) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  var timed = false

  /** Run `body` as one op, then `check` its result outside the timing.
    * `check` returns the mismatch, if any.
    */
  def op[A](kind: String, name: String)(body: => A)(check: A => Option[String]): Option[A] = {
    val id = samples.size
    val t0 = tracer.now()
    val res =
      try Right(tracer.op(id, s"$kind:$name")(body))
      catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(e) }
    val ms = tracer.now() - t0
    val wrong = res match {
      case Left(e)  => Some(s"threw ${e.getClass.getSimpleName}: ${firstLine(e.getMessage)}")
      case Right(a) => check(a)
    }
    wrong.foreach(fail(s"$kind:$name", _))
    samples += Sample(id, kind, name, t0, ms, wrong.isEmpty, timed)
    res.toOption.filter(_ => wrong.isEmpty)
  }

  def fail(what: String, why: String): Unit = System.err.println(s"[bench] FAILED $what: $why")

  private def firstLine(s: String): String =
    Option(s).map(_.linesIterator.take(1).mkString.take(300)).getOrElse("")
}

object Recorder {
  /** `expected` vs `got`, as a mismatch message when they differ. */
  def expect[A](what: String, expected: A, got: A): Option[String] =
    if (expected == got) None else Some(s"$what: expected $expected, got $got")
}
