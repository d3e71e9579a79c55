package perfbench

import scala.collection.mutable

/** Minimal JSON rendering: the result line and the capture files are flat
  * objects of strings and numbers. Numbers keep every digit. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** What one operation produced: the input cells it processed, and its
  * output check, which runs after the operation's clock stops and returns
  * a failure message when the output is wrong. */
final case class Outcome(cells: Long, check: () => Option[String] = () => None)

/** The timed part of one run, with failure accounting: an operation whose
  * check fails or that throws counts as attempted and failed and is never
  * recorded as a time. */
final class Loop {
  val times = mutable.ArrayBuffer[Double]()
  val tracedTimes = mutable.ArrayBuffer[Double]()
  var cells = 0L
  var attempted = 0
  val failures = mutable.ArrayBuffer[String]()

  def failed: Int = failures.size

  /** Run operation `i` once; `traced` files its time under the traced
    * samples instead of the end-to-end ones. */
  def run(i: Int, traced: Boolean)(op: Int => Outcome): Unit = {
    attempted += 1
    def threw(e: Throwable) = Some(s"op $i threw ${e.getClass.getName}: ${e.getMessage}")
    val t0 = System.nanoTime()
    val outcome = scala.util.Try(op(i))
    val dt = (System.nanoTime() - t0) / 1e9
    val failure = outcome.fold(threw, o =>
      try o.check().map(m => s"op $i: $m") catch { case e: Throwable => threw(e) })
    failure match {
      case Some(msg) => failures += msg
      case None =>
        if (traced) tracedTimes += dt
        else { times += dt; cells += outcome.get.cells }
    }
  }

  /** Closed loop, one client: start operations until `seconds` have passed
    * (at least one), or until `limit` operations have run. */
  def closedLoop(seconds: Double, limit: Int)(op: Int => Outcome): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < limit && (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      run(i, traced = false)(op)
      i += 1
    }
  }
}
