package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The three pieces every streaming path is built from: a source, an
  * operator that works on a batch or a streaming DataFrame (the
  * operators of [[EventStreams]], [[CurationStreams]] and `graft.ops`),
  * and a sink. A streaming query is `sink(operator(source))`; its batch
  * twin is the same operator over a batch DataFrame.
  */
object Streams {

  /** The parquet directory `dir` read as a stream. `maxFilesPerTrigger
    * = Some(1)` makes each file its own micro-batch, so a multi-file
    * directory exercises cross-batch state.
    */
  def files(spark: SparkSession, dir: String, schema: StructType,
            maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(dir)
  }

  /** Run `df` available-now into the memory sink `queryName` (read it
    * back with `spark.table(queryName)`).
    */
  def toMemory(df: DataFrame, queryName: String,
               mode: OutputMode = OutputMode.Append()): StreamingQuery =
    df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Run `src` available-now through `perBatch` into an exactly-once
    * parquet sink. Micro-batch `id`'s rows, `perBatch(batch, id)`, land
    * under `outDir/batch=<id>` (so a plain parquet read of `outDir` sees
    * one `batch` partition column plus the data), written in overwrite
    * mode with the job's `_SUCCESS` marker as the commit record, and
    * schema-anchored, so a batch whose every row was dropped still
    * leaves a schema-carrying file.
    *
    * A batch replayed after a crash between the sink write and the
    * checkpoint commit either (a) finds its `_SUCCESS` and skips
    * entirely — `perBatch` does not run — or (b) finds a partial
    * directory and overwrites it with the re-derived rows. Either way
    * the output holds each row EXACTLY once, provided `perBatch` is a
    * deterministic function of (batch, index state) whose own side
    * effects are idempotent per `id`: the `graft.ops` increments get
    * that from their `commitTag` (pass the numeric-head tag
    * `Some(s"$id")`, which [[graft.ops.IndexStore.retireTags]] can
    * watermark away) and their retry-stable verdicts.
    */
  def exactlyOnce(src: DataFrame, outDir: String, checkpointDir: String)
                 (perBatch: (DataFrame, Long) => DataFrame): StreamingQuery = {
    val sink: (DataFrame, Long) => Unit = { (batch, id) =>
      val dir = new Path(s"$outDir/batch=$id")
      val fs = dir.getFileSystem(batch.sparkSession.sessionState.newHadoopConf())
      if (!fs.exists(new Path(dir, "_SUCCESS")))
        graft.ops.TableWrite.withSchemaAnchor(perBatch(batch, id), dir.toString, "overwrite")
    }
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(sink)
      .start()
  }
}
