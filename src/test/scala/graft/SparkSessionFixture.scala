package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object SparkSessionFixture {
  lazy val spark: SparkSession = graft.runtime.LocalSession(4)
}
