package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM, built the way
  * every entry point builds one. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.local("4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `body` with one SQL conf set, restoring the previous value. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
