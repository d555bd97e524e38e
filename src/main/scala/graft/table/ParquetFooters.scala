package graft.table

import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet FOOTER metadata read in-process — no Spark job at all (a
  * `count()` or a schema-inferring `spark.read.parquet` costs a full
  * job-schedule round trip, and on a shared cluster a queue wait). Used
  * by [[SnapshotTable]] for manifest-listed files (row counts, the read
  * schema).
  */
object ParquetFooters {

  /** Footer key under which Spark's parquet writer stores the row
    * schema as JSON; Spark's own schema inference reads it first.
    */
  val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Open one file's footer, apply `f`, close. The reader takes its
    * options from `conf`: `ParquetFileReader.open(in)` would build and
    * parse a fresh Hadoop `Configuration` on every open.
    */
  private[table] def withFooter[A](path: String, conf: org.apache.hadoop.conf.Configuration)(
      f: org.apache.parquet.hadoop.ParquetFileReader => A): A = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      in, org.apache.parquet.HadoopReadOptions.builder(conf).build())
    try f(r) finally r.close()
  }

  def fileRowCount(path: String,
      conf: org.apache.hadoop.conf.Configuration): Long =
    withFooter(path, conf)(_.getRecordCount)

  /** The Spark schema stored in `path`'s footer ([[SparkSchemaKey]]).
    * Throws, naming the file, when the footer has none (a file not
    * written by Spark) — callers pass it to `spark.read.schema`, and a
    * guessed schema would be worse than none.
    */
  def sparkSchema(path: String,
      conf: org.apache.hadoop.conf.Configuration): StructType = {
    val json = withFooter(path, conf)(
      _.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
    if (json == null)
      throw new IllegalStateException(
        s"parquet file $path has no Spark schema in its footer ($SparkSchemaKey)")
    DataType.fromJson(json).asInstanceOf[StructType]
  }
}
