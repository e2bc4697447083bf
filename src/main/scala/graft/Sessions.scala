package graft

import org.apache.spark.sql.SparkSession

/** The one place a local session is built. Bench, Verify, the
  * `graft.tools` mains and the test suite all take their session from
  * [[local]], so the settings the oracle compare depends on (UTC, nanos
  * as longs, naive-micros parquet read as TIMESTAMP) cannot drift between
  * entry points. */
object Sessions {

  /** Local cores for every entry point (`SPARK_GRAFT_CPUS`, default 4). */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Every session setting, in the order applied. `objectStoreFs` maps
    * `file://` to `RawLocalFileSystem`: the bench and its tools model an
    * object store on the local disk, and object stores write no `.crc`
    * sidecars (BASELINE.md "checksum re-pricing"). Verify and the tests
    * keep the checksummed default. */
  private[graft] def settings(cpus: Int, objectStoreFs: Boolean): Seq[(String, String)] =
    Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // naive-micros parquet (isAdjustedToUTC=false) reads as TIMESTAMP,
      // not TIMESTAMP_NTZ — session TZ is UTC, so the values are identical
      // and every timestamp function keeps working
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.extensions" -> "graft.ext.GraftExtensions",
      "spark.sql.codegen.cache.maxEntries" -> "1000") ++
      (if (objectStoreFs)
        Seq("spark.hadoop.fs.file.impl" -> "org.apache.hadoop.fs.RawLocalFileSystem")
      else Nil)

  /** A `local[cpus]` session with [[settings]]; any active or default
    * session is cleared first, so the settings are the ones applied. */
  def local(cpus: Int, objectStoreFs: Boolean): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = settings(cpus, objectStoreFs)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run query `name` to completion. `queryExecution.toRdd` drains every
    * row of the full plan — a plain `count()` would let Catalyst prune the
    * projections and measure only the parquet scan. */
  def materialize(spark: SparkSession, sfDir: String, name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd
      .foreachPartition(it => while (it.hasNext) it.next())
}
