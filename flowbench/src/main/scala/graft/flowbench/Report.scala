package graft.flowbench

import scala.collection.mutable

/** What one run measured. `e2e` holds every end-to-end metric the run can
  * name (the bounded subset listed in BENCHMARK.json plus the rest the
  * workload defines); `layer` holds the traced run's per-layer metrics.
  * Written as one JSON file that the runner turns into the result line.
  */
final class Report(val workload: String) {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  /** Ops whose first result was written for the oracle check:
    * op -> (result dir, the op's DuckDB oracle SQL).
    */
  val verify = mutable.LinkedHashMap.empty[String, (String, String)]
  var attempted = 0L
  var failed = 0L

  def fail(what: String, n: Long = 1): Unit = {
    failed += n
    System.err.println(s"[flowbench] FAILED: $what")
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def metrics(m: mutable.LinkedHashMap[String, (Double, String)]): String =
    m.map { case (k, (v, u)) =>
      s"${q(k)}:{${q("value")}:${Stats.num(v)},${q("unit")}:${q(u)}}"
    }.mkString("{", ",", "}")

  def json: String =
    Seq(
      s"${q("workload")}:${q(workload)}",
      s"${q("attempted")}:$attempted",
      s"${q("failed")}:$failed",
      s"${q("e2e")}:${metrics(e2e)}",
      s"${q("layer")}:${metrics(layer)}",
      s"${q("info")}:${info.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")}",
      s"${q("verify")}:${verify.map { case (k, (dir, sql)) =>
        s"${q(k)}:{${q("dir")}:${q(dir)},${q("sql")}:${q(sql)}}" }.mkString("{", ",", "}")}"
    ).mkString("{", ",", "}")
}
