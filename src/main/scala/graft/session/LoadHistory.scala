package graft.session

import org.apache.hadoop.fs.Path
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `_load_history` append-only load log (reference:
  * src/lib/themes.js:417-440) — one row per theme load with
  * `current_timestamp` stamping, stored as an append-mode parquet
  * dataset: one file per load, written on the driver
  * ([[DriverParquet]], no Spark job) and read back by Spark.
  *
  * `ts` is an INT64 `TIMESTAMP(MICROS, true)` column, which Spark
  * reads as `TimestampType`; a directory that also holds files Spark
  * wrote earlier (an INT96 `ts`) reads as one table.
  */
object LoadHistory {

  final case class Entry(
      key: String,
      release: String,
      bbox: String,
      lim: Long,
      cached: Boolean,
      row_count: Long,
      file_count: Long,
      load_time_ms: Long)

  private def path(dir: String) = s"$dir/_load_history"

  private val schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary key (UTF8);
      |  optional binary release (UTF8);
      |  optional binary bbox (UTF8);
      |  required int64 lim;
      |  required boolean cached;
      |  required int64 row_count;
      |  required int64 file_count;
      |  required int64 load_time_ms;
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  /** Append `e`, stamped with the current time. The file is written
    * under a hidden name and then renamed into place, so a reader never
    * sees it half written.
    */
  def append(spark: SparkSession, dir: String, e: Entry): Unit = {
    val now = java.time.Instant.now()
    val row = Seq("lim" -> e.lim, "cached" -> e.cached, "row_count" -> e.row_count,
      "file_count" -> e.file_count, "load_time_ms" -> e.load_time_ms,
      "ts" -> (now.getEpochSecond * 1000000L + now.getNano / 1000)) ++
      Seq("key" -> e.key, "release" -> e.release, "bbox" -> e.bbox).filter(_._2 != null)
    val name = s"part-${java.util.UUID.randomUUID()}.parquet"
    val tmp = new Path(path(dir), s".$name.tmp")
    DriverParquet.write(tmp.toString, schema, Seq(row))
    val fs = tmp.getFileSystem(DriverParquet.conf())
    if (!fs.rename(tmp, new Path(path(dir), name)))
      sys.error(s"load history: could not publish $tmp")
  }

  def read(spark: SparkSession, dir: String): DataFrame = {
    val f = new java.io.File(path(dir))
    if (!f.exists()) {
      import spark.implicits._
      Seq.empty[Entry].toDF().withColumn("ts", current_timestamp()).limit(0)
    } else spark.read.parquet(path(dir))
  }
}
