package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

/** The benchmark's only way into the library: every call into a layer's public
  * function goes through [[call]] (or [[write]]), and every frame a layer
  * returns is materialized through [[drain]] or [[collect]]. Each is one
  * span when the recorder is tracing; otherwise it costs a field write.
  *
  * A call that throws, or an output check that does not hold, is counted
  * in `failed` with the op name and exception class. It is never turned
  * into a timing.
  */
final class Ops(rec: Recorder) {
  var pass = 0
  var attempted, failed, checksFailed = 0L
  val errors = mutable.ArrayBuffer[Map[String, Any]]()
  val checks = mutable.ArrayBuffer[Map[String, Any]]()
  private var current = "setup"

  private def span[T](layer: String, name: String, kind: String)(body: => T): T = {
    current = name
    if (!rec.tracing) body
    else {
      val s = rec.open(name, layer, kind, pass)
      try body finally rec.close(s)
    }
  }

  /** The root span of one pass; the layer calls are its children. */
  def passSpan[T](body: => T): T = span("bench", "bench.pass", "pass")(body)

  /** One call into `layer`'s public function `fn`. */
  def call[T](layer: String, fn: String)(body: => T): T = {
    attempted += 1
    span(layer, s"$layer.$fn", "call")(body)
  }

  /** A call whose work is the write it performs. */
  def write(layer: String, fn: String)(body: => Unit): Unit = {
    attempted += 1
    span(layer, s"$layer.$fn", "exec")(body)
  }

  /** Run the frame's full physical plan with every output column.
    * `Dataset.count()` would let Catalyst prune the columns away.
    */
  def drain(layer: String, fn: String, df: DataFrame): Long =
    span(layer, s"$layer.$fn.drain", "exec") {
      val qe = df.queryExecution
      val n = qe.toRdd.count()
      rec.plan(qe)
      n
    }

  def collect(layer: String, fn: String, df: DataFrame): Array[Row] =
    span(layer, s"$layer.$fn.collect", "exec")(df.collect())

  /** [[call]] then [[drain]]: the common shape of a pipeline step. */
  def run(layer: String, fn: String)(build: => DataFrame): Long =
    drain(layer, fn, call(layer, fn)(build))

  def fail(e: Throwable, phase: String): Unit = {
    failed += 1
    errors += Json.obj("op" -> current, "phase" -> phase,
      "exception" -> e.getClass.getName,
      "message" -> String.valueOf(e.getMessage).take(300))
  }

  /** One output check, outside any timed pass. `body` returns whether it
    * held and a one-line detail.
    */
  def check(name: String)(body: => (Boolean, String)): Unit = {
    attempted += 1
    current = s"check.$name"
    val (ok, detail, exc) =
      try { val (o, d) = body; (o, d, "") }
      catch { case e: Exception =>
        (false, String.valueOf(e.getMessage).take(300), e.getClass.getName) }
    if (!ok) {
      failed += 1
      checksFailed += 1
      errors += Json.obj("op" -> current, "phase" -> "check",
        "exception" -> (if (exc.isEmpty) "CheckFailed" else exc),
        "message" -> detail)
    }
    checks += Json.obj("check" -> name, "ok" -> ok, "detail" -> detail)
  }
}
