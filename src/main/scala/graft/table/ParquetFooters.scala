package graft.table

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet FOOTER metadata read in-process — no Spark job at all (a
  * `count()` or a schema-inferring `spark.read.parquet` costs a full
  * job-schedule round trip, and on a shared cluster a queue wait). Used
  * by [[SnapshotTable]] for manifest-listed files (row counts, the read
  * schema) and by callers that need a row-count hint for a plain
  * parquet path (e.g. sizing the IVF training sample —
  * `Similarity.trainingSample`'s `totalHint`).
  */
object ParquetFooters {

  /** Footer key under which Spark's parquet writer stores the row
    * schema as JSON; Spark's own schema inference reads it first.
    */
  val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Open one file's footer, apply `f`, close. */
  private[table] def withFooter[A](path: String, conf: org.apache.hadoop.conf.Configuration)(
      f: org.apache.parquet.hadoop.ParquetFileReader => A): A = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
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

  /** Total rows under `path` (a parquet file or a directory tree). */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val it = fs.listFiles(p, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        total += fileRowCount(f.getPath.toString, conf)
    }
    total
  }
}
