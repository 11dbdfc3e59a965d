package graft

import org.apache.spark.sql.SparkSession

object WithConf {

  /** Runs `body` with the given session confs set, then restores each
    * key's previous value, or unsets a key that had none. Suites share one
    * session, so a conf must not outlive the test that sets it.
    */
  def withConf[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
