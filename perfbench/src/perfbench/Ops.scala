package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

/** Run arguments. `scale` picks the input sizes; `corrupt` damages one
  * output before it is checked, so the tests can show a check catches it.
  */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, fixtures: String, sizes: Sizes, corrupt: Boolean)

/** Input sizes of the workloads. */
final case class Sizes(buildTurns: Int, incrConvs: Int, serveConvs: Int, serveClients: Int,
    dedupDocs: Int)

object Sizes {
  val full: Sizes = Sizes(buildTurns = 4000, incrConvs = 640, serveConvs = 1000,
    serveClients = 2, dedupDocs = 1000)
  val tiny: Sizes = Sizes(buildTurns = 1100, incrConvs = 320, serveConvs = 40,
    serveClients = 2, dedupDocs = 300)
}

/** Outcome bookkeeping of the measured ops. An op the program reports as
  * failed (it throws, its QA gate fails, a request is not answered with
  * 200) counts as failed; an op the program reports as successful whose
  * output fails the benchmark's check counts as failed and makes the run
  * incorrect. Only ops that succeed and pass their check are timed.
  */
final class Ops {
  var attempted = 0
  var failed = 0
  var wrong = 0
  /** Wall time of each timed op. */
  val times: ArrayBuffer[Double] = ArrayBuffer()
  /** CPU seconds the whole JVM spent in each timed op. */
  val cpus: ArrayBuffer[Double] = ArrayBuffer()
  private var lastCpu = 0.0

  /** Runs one op; returns its value and wall time when the program reported
    * success, None (and counts the failure) when it threw or `failure`
    * names what it reported.
    */
  def attempt[T](label: String)(body: => T)(failure: T => Option[String]): Option[(T, Double)] = {
    attempted += 1
    val c0 = Common.processCpuS()
    val t0 = System.nanoTime()
    val r = Try(body)
    val dt = Common.seconds(t0)
    lastCpu = Common.processCpuS() - c0
    r match {
      case Success(v) => failure(v) match {
        case None => Some((v, dt))
        case Some(why) => fail(s"$label: $why"); None
      }
      case Failure(e) => fail(s"$label: threw $e"); None
    }
  }

  /** Records the check of an op the program reported as successful, which
    * took `dt` seconds of wall time.
    */
  def checked(label: String, dt: Double, problems: Seq[String]): Unit =
    if (problems.isEmpty) {
      times += dt
      cpus += lastCpu
      System.err.println(f"[perfbench] $label: $dt%.3f s, cpu $lastCpu%.3f s")
    } else {
      wrong += 1
      fail(s"$label: ${problems.mkString("; ")}")
    }

  /** Records a check that is an op of its own but is not timed. */
  def verified(label: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      wrong += 1
      fail(s"$label: ${problems.mkString("; ")}")
    }
  }

  def fail(msg: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] op failed: $msg")
  }

  def medianCpu: Option[Double] = if (cpus.isEmpty) None else Some(Common.median(cpus.toSeq))

  def result(metrics: Seq[Metric]): Result = Result(wrong == 0, attempted, failed, metrics)
}

/** Repeated set-up: the same fixed work `Reps` times, reporting the median
  * CPU seconds the JVM spent on it and the last repetition's state.
  */
object Setup {
  val Reps = 3

  def repeat[T](body: Int => T): (T, Double) = {
    val runs = (0 until Reps).map { i =>
      val c0 = Common.processCpuS()
      val v = body(i)
      (v, Common.processCpuS() - c0)
    }
    (runs.last._1, Common.median(runs.map(_._2)))
  }
}
