package graft.plug

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM, built by the same
  * factory as the Verify and Bench sessions. */
object TestSpark {
  lazy val session: SparkSession = graft.Sessions.local(4, objectStoreFs = false)
}
