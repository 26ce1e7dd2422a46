package graft.tools

/** One-off artifact: where does a production-merge-count BPE train
  * spend its wall? Runs trainMerges with numMerges=1000 at the given
  * sf dir and prints one JSON line (merges actually landed, wall,
  * wall per merge round). Kept in tools/ as the reproducer for the
  * BASELINE.md round-14 BPE paragraph.
  */
object BpeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.Engine.session()
    graft.core.Tables.registerAll(spark, sfDir)
    val docs = spark.table("documents")
    docs.count() // warm
    val wc = graft.ops.Bpe.wordCounts(docs, "text").localCheckpoint(true)
    val nWords = wc.count()
    val t0 = System.nanoTime()
    val merges = graft.ops.Bpe.trainMergesFromWordCounts(wc, numMerges = 1000,
      minPairCount = 2L).collect()
    val wall = (System.nanoTime() - t0) / 1e9
    // rounds = sequential aggregate jobs actually run (batching
    // commits >1 merge per round, so rounds <= merges; the final
    // pair-exhaustion probe counts — it is a real collect)
    val rounds = graft.ops.Bpe.lastTrainRounds.get()
    val note = s"numMerges=1000 runs the $nWords-word vocabulary to pair " +
      s"exhaustion at ${merges.length} merges in $rounds aggregate rounds; " +
      "wall is per sequential round of driver job latency over the small " +
      "count table, independent of corpus size. Production 30-50k-merge " +
      "trains are hours of sequential rounds on any engine; " +
      "Bpe.trainMergesSampled bounds each round to the top-N word-count " +
      "table so round cost stays flat as the corpus grows."
    println(s"""{"metric":"bpe_1k_train","sf":"$sfDir","n_distinct_words":$nWords,"merges_landed":${merges.length},"agg_rounds":$rounds,"wall_sec":${math.round(wall * 1000) / 1000.0},"sec_per_merge":${math.round(wall / math.max(merges.length, 1) * 10000) / 10000.0},"sec_per_round":${math.round(wall / math.max(rounds, 1) * 10000) / 10000.0},"note":"$note"}""")
    spark.stop()
  }
}
