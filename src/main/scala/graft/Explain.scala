package graft

/** Plan-audit utility: print the formatted physical plan of one or more
  * registered queries without executing them (streaming drains and
  * side-effecting registrations do run their build step — they execute to
  * produce the returned frame; the EXPLAIN itself is on that frame).
  *
  *   sbt "runMain graft.Explain <sfDir> <query> [query ...]"
  *
  * The per-operator `.explain("formatted")` review (pushdown reached the
  * scan? broadcast where expected? codegen spans wide?) is part of the
  * build loop; this main makes it repeatable without scratch code.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <query> [query ...]")
    val dir = args(0)
    // extensions install the as-of operator and parser; several
    // registrations require them
    val spark = Bench.localSession(8, "WARN")
    try args.drop(1).foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      println(s"==== $name ====")
      df.explain("formatted")
    } finally spark.stop()
  }
}
