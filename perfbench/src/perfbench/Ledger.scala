package perfbench

import scala.collection.mutable.ArrayBuffer

/** Counts operations and their failures. An operation that throws, or
  * whose output check fails, counts as failed, is reported by name on
  * stderr, and contributes no timing sample.
  */
final class Ledger(afterOp: () => Unit = () => ()) {
  var attempted = 0
  var failed = 0
  val failures: ArrayBuffer[String] = ArrayBuffer[String]()

  private def fail(name: String, why: String): Unit = {
    failed += 1
    failures += name
    System.err.println(s"[perfbench] FAILED $name: $why")
  }

  /** Times `op` alone, then runs `check` on its result outside the
    * timed region. `check` returns None when the output is correct, or
    * a description of the mismatch. Returns the result and its seconds
    * only when both succeeded.
    */
  def attempt[A](name: String)(op: => A)(check: A => Option[String]): Option[(A, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(op) catch { case e: Throwable => Left(e) }
    val s = (System.nanoTime() - t0) / 1e9
    val out = res match {
      case Left(e) =>
        fail(name, s"threw $e"); None
      case Right(a) =>
        (try check(a) catch { case e: Throwable => Some(s"check threw $e") }) match {
          case Some(why) => fail(name, why); None
          case None => Some(a -> s)
        }
    }
    afterOp()
    out
  }

  /** A check that is not timed, e.g. a zone digest after a round. */
  def verify(name: String)(check: => Option[String]): Boolean = {
    attempted += 1
    (try check catch { case e: Throwable => Some(s"check threw $e") }) match {
      case Some(why) => fail(name, why); false
      case None => true
    }
  }
}

object Ledger {
  def expect[A](what: String, got: A, want: A): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")
}
