package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.mutable.ArrayBuffer

/** Stage-level profiler: runs the named SparkEntry queries (second run
  * after a warmup, mirroring Bench's best-of-N) with a listener that
  * records every completed stage's wall time and task count — the
  * evidence for the per-stage-floor analysis in BASELINE.md. Dev aid
  * only — `runMain graft.tools.StageProfile [<query>[,<query>...]] [sfDir]`
  * (no names: every query).
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val only = args.headOption.map(Driver.names)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.Engine.session()

    case class St(id: Int, name: String, tasks: Int, ms: Long)
    val stages = ArrayBuffer.empty[St]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val info = sc.stageInfo
        val ms = (for {
          s <- info.submissionTime; c <- info.completionTime
        } yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += St(info.stageId, info.name.takeWhile(_ != '\n'), info.numTasks, ms)
        }
      }
    }
    Driver.run(spark, sfDir, "stageprofile", only) { (n, query) =>
      query().write.format("noop").mode("overwrite").save() // warmup
      spark.catalog.clearCache(); System.gc()
      stages.synchronized(stages.clear())
      spark.sparkContext.addSparkListener(listener)
      val total =
        try {
          val t0 = System.nanoTime()
          query().write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } finally spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(200) // let the listener bus drain
      val snap = stages.synchronized(stages.toVector).sortBy(_.id)
      println(f"\n========== $n: ${total}%.3f s, ${snap.size} stages ==========")
      snap.foreach(s => println(f"  stage ${s.id}%4d ${s.ms}%6d ms ${s.tasks}%4d tasks  ${s.name}"))
      println(f"  sum-of-stage-wall: ${snap.map(_.ms).sum}%d ms (overlap possible)")
    }
    spark.stop()
  }
}
