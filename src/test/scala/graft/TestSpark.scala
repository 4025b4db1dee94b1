package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole (forked) test JVM. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("2")

  /** The sf0.01 tables: the scale the oracle gate (`tools/check.py`)
    * checks every query at, and the specs' own-input cases use. */
  val sf001: String = "/root/testdata/sf0.01"
}
