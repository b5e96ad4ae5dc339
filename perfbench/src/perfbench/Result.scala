package perfbench

import scala.collection.mutable

/** What one run reports: operations attempted and failed, the reasons for
  * failures, and metrics by name with their unit.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()

  def ok(): Unit = attempted += 1

  def fail(msg: String): Unit = {
    attempted += 1
    failed += 1
    errors += msg
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val es = errors.take(50).map(Json.str).mkString("[", ",", "]")
    s"""{"attempted":$attempted,"failed":$failed,"errors":$es,"metrics":$ms}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
