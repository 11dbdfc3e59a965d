package graft.tools

import graft.Local
import graft.gate.Gate

/** Prints physical plans for the gated queries (plan-quality review). */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Local.session()
    for (name <- args.drop(1) match {
      case Array() => Gate.all.map(_.name).sorted
      case rest => rest.toSeq
    }) {
      println(s"===== $name")
      Gate(name).build(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
