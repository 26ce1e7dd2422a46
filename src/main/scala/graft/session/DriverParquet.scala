package graft.session

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.schema.MessageType

/** Driver-side parquet IO for the session's small tables (`_session`,
  * `_load_history`): parquet-hadoop's Group API writes and reads a
  * Spark-readable file in-process, so a table of a handful of rows
  * never launches a Spark job.
  */
private[session] object DriverParquet {

  /** Loaded once; each call copies it (a copy is cheap, parsing the
    * default resources again is not) so no call sees another's settings.
    */
  private lazy val baseConf = new Configuration()

  def conf(): Configuration = new Configuration(baseConf)

  /** Write `rows` to one parquet file at `file`. Each row lists its
    * fields by name; a value is a `String`, `Long` or `Boolean`, and a
    * field the row leaves out is null.
    */
  def write(file: String, schema: MessageType, rows: Seq[Seq[(String, Any)]]): Unit = {
    val w = ExampleParquetWriter.builder(new Path(file))
      .withConf(conf()).withType(schema).build()
    val gf = new SimpleGroupFactory(schema)
    try rows.foreach { row =>
      val g = gf.newGroup()
      row.foreach {
        case (k, v: String) => g.append(k, v)
        case (k, v: Long) => g.append(k, v)
        case (k, v: Boolean) => g.append(k, v)
        case (k, v) => throw new IllegalArgumentException(s"unsupported value for $k: $v")
      }
      w.write(g)
    } finally w.close()
  }

  /** Every row of the parquet file at `file`. */
  def read(file: String): Seq[Group] = {
    val reader = ParquetReader.builder(new GroupReadSupport(), new Path(file))
      .withConf(conf()).build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).toList
    finally reader.close()
  }
}
