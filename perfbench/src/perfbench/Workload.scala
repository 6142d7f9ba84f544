package perfbench

/** One measured phase: per-operation latencies, units of work done,
  * operations attempted and failed. */
final case class Phase(latMs: Seq[Double], work: Double, seconds: Double,
                       attempted: Long, failed: Long, errors: Seq[String]) {
  def p50: Double = Stats.median(latMs)
  def tail: Option[(Double, Double)] = Stats.tail(latMs)
  def workPerS: Double = work / seconds
}

final case class Check(name: String, ok: Boolean, detail: String)

/** A benchmark workload over the engine's public API.
  *
  * Set-up is `generate`, which writes the seeded inputs into a fresh
  * directory (the harness runs it several times and keeps the last),
  * then `prepare`, once: pre-builds of the models the workload reads.
  * `warmup` runs the operation untimed so JIT, code generation and lazy
  * Spark set-up are paid before timing. `measure` loops the operation for the
  * given seconds. `check` verifies outputs; each check is an operation
  * that fails when the output is wrong. `layers` turns the traced
  * phase's spans and probes of the layers into per-layer metrics. */
trait Workload {
  def inputs: Map[String, Any]
  def generate(dir: String): Unit
  def prepare(): Unit = ()
  def warmup(): Unit
  def measure(seconds: Double): Phase
  def check(): Seq[Check]
  def layers(progress: StreamProgress): Map[String, Double]

  /** Run `op` until `seconds` have passed (at least once); each call
    * returns its latency samples and work units, or throws (a failed
    * operation). */
  protected def loop(seconds: Double)(op: => (Seq[Double], Double)): Phase = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var lat = Vector.empty[Double]
    var work = 0.0
    var attempted, failed = 0L
    var errors = Vector.empty[String]
    while (attempted == 0 || System.nanoTime() < deadline) {
      attempted += 1
      try {
        val (l, w) = op
        lat ++= l; work += w
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1
          errors :+= s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
    }
    Phase(lat, work, (System.nanoTime() - t0) / 1e9, attempted, failed, errors)
  }
}
