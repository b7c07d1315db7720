package graft.kdc

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** Raw Heimdal KDC logs → `Dataset[KdcLogRecord]`.
  *
  * Every batch and streaming KDC read goes through one parse path, the
  * `kdclog` DataSourceV2 table ([[graft.kdc.v2.KdcLogTableProvider]]).
  * Its scan is the reference's sessionizing `RecordReader`
  * (`/root/reference/.../KDCLogRecordReader.java:162-232`):
  * [[KdcSessionInputFormat]] aligns splits to session boundaries and
  * reads past the split end, so a single log file (plain or
  * splittable bzip2) fans out across tasks with no shuffle, and session
  * state never crosses a file boundary. The functions here are typed
  * entries onto that table, so callers do not name the format.
  *
  * [[fromLines]] and [[Sessionizer.sessionize]] stay as the in-memory
  * reference fold the specs compare the table against.
  */
object KdcSource {

  /** All sessions under `path` (file, directory or glob). */
  def records(spark: SparkSession, path: String): Dataset[KdcLogRecord] =
    recordsAligned(spark, path)

  /** [[records]] with an upper bound on split size, so tests can force
    * split boundaries into awkward byte positions (the source's
    * `maxSplitBytes` option). */
  def recordsAligned(spark: SparkSession, path: String,
                     maxSplitBytes: Option[Long] = None): Dataset[KdcLogRecord] = {
    val reader = spark.read.format("kdclog")
    maxSplitBytes.foreach(b => reader.option("maxSplitBytes", b))
    reader.load(path).as(Encoders.product[KdcLogRecord])
  }

  /** The same sessions as a stream: a `kdclog` tail of `path`,
    * admitting new files in lexical order. */
  def stream(spark: SparkSession, path: String): Dataset[KdcLogRecord] =
    spark.readStream.format("kdclog").load(path).as(Encoders.product[KdcLogRecord])

  /** Convenience for tests / small inputs: sessionize pre-collected lines
    * of a single logical file, distributed. */
  def fromLines(spark: SparkSession, lines: Seq[String]): Dataset[KdcLogRecord] = {
    import spark.implicits._
    // Single logical stream → one partition so ordering is preserved.
    spark.createDataset(lines).coalesce(1)
      .mapPartitions(Sessionizer.sessionize)
  }
}
