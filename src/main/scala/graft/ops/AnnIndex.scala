package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cold-start persistence for the ANN serving paths: one parquet
  * directory holding every artifact a fresh session needs to serve
  * top-k WITHOUT retraining or re-encoding —
  *
  *   `<path>/ivf_centroids`  (cent_id, centroid)      — [[Similarity.trainIvfCentroids]]
  *   `<path>/pq_codebooks`   (sub, cent_id, centroid) — [[Similarity.trainPqCodebooks]]
  *   `<path>/pq_codes`       (idCol, codes)           — [[Similarity.pqEncode]]
  *   `<path>/lsh_buckets`    (idCol, bucket)          — [[Similarity.lshBucket]]
  *
  * This generalizes the compiled-in [[PqFixture]] (which proved the
  * train-once/serve-many shape) into a load-from-path API: `build`
  * runs once per index build on the training cluster; serving
  * sessions call the `read*` accessors and the `*From*`/`*Encoded`
  * serving variants. Reloaded indexes serve BIT-IDENTICAL top-k to
  * the in-session artifacts (spec-proven in OpsSpec): doubles and
  * longs round-trip parquet exactly, and every serving path is
  * deterministic given its tables.
  *
  * `build` also persists a one-row `<path>/manifest` (dims, ivf_k,
  * pq_m, pq_k, planes, iters) so maintenance and serving recover the
  * build parameters from the index itself, and [[append]] ingests a
  * NEW shard into an existing index without retraining: the frozen
  * codebooks/planes encode the increment in one map-side pass and
  * the new codes/buckets append — the standard production contract
  * (codebooks freeze at index build; re-training is a new index
  * version). The appended index serves bit-identically to encoding
  * the full corpus against the original codebooks (oracle row
  * `ann_index_append`; serving equivalence spec-proven in OpsSpec).
  *
  * Scale: the centroid/codebook tables are configuration-sized (k ×
  * dims); pq_codes is m bytes-per-vector scale and lsh_buckets one
  * short string per vector — both orders of magnitude smaller than
  * the float corpus they summarize, and both written as ordinary
  * parquet so a 1000-executor session reads them partitioned.
  */
object AnnIndex {

  /** Train and persist every serving artifact for `corpus`. Returns
    * nothing — the index directory IS the output. Empty corpora
    * write schema-carrying empty tables
    * ([[TableWrite.withSchemaAnchor]], shared with
    * [[Dedup.writeMinhashIndex]]), so a reload never fails schema
    * inference.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, path: String,
            dims: Int = 64, ivfK: Int = 256, pqM: Int = 4, pqK: Int = 4,
            planes: Int = 8, iters: Int = 2): Unit = {
    // the IVF and PQ trainers are INDEPENDENT sequential collect
    // chains over the same corpus — overlap them (r15): each trainer's
    // per-iteration job leaves most of the scheduler idle between
    // collects, so the two chains interleave and the build pays
    // ~max(ivf, pq) trainer wall instead of the sum. Determinism is
    // untouched — each trainer's trajectory depends only on its own
    // input.
    @volatile var cent: DataFrame = null
    @volatile var cb: DataFrame = null
    Concurrent.inParallel(
      () => cent = Similarity.trainIvfCentroids(corpus, idCol, vecCol, ivfK, iters),
      () => cb = Similarity.trainPqCodebooks(corpus, idCol, vecCol, dims, pqM, pqK, iters))
    buildFromArtifacts(corpus, idCol, vecCol, path, cent, cb,
      dims, ivfK, pqM, pqK, planes, iters)
  }

  /** Assemble an index version from PROVIDED (frozen) artifacts with
    * no training pass: persist the given centroid/codebook tables,
    * encode `corpus` (possibly empty) against them, write the
    * manifest. [[build]] delegates here after training; calling it
    * directly is the production shape when codebooks are trained once
    * on a sample and every index version just encodes — and is what
    * lets the `ann_index_append` bench row measure pure
    * encode+append+serve without a trainer in the loop.
    */
  def buildFromArtifacts(corpus: DataFrame, idCol: String, vecCol: String,
                         path: String, centroids: DataFrame, cb: DataFrame,
                         dims: Int, ivfK: Int, pqM: Int, pqK: Int,
                         planes: Int, iters: Int): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    IndexStore.reset(spark, s"$path/pq_codes")
    IndexStore.reset(spark, s"$path/lsh_buckets")
    val manifest = Seq((dims, ivfK, pqM, pqK, planes, iters))
      .toDF("dims", "ivf_k", "pq_m", "pq_k", "planes", "iters")
    if (corpus.isEmpty) {
      // empty build corpus (index version created purely for appends):
      // schema-only anchors, no encode/shuffle/write machinery. The
      // five artifact writes are independent — overlap them so the
      // driver pays one job-latency round, not five (the r13
      // StageProfile found >half this path's wall was inter-job gaps)
      val codes = Similarity.pqEncode(
        corpus.select(col(idCol), col(vecCol)), idCol, vecCol, cb)
      val bucketSchema = corpus.select(col(idCol),
        Similarity.lshBucket(col(vecCol), planes).as("bucket")).schema
      Concurrent.inParallel(
        () => writeTable(centroids, s"$path/ivf_centroids"),
        () => writeTable(cb, s"$path/pq_codebooks"),
        () => writeTable(manifest, s"$path/manifest"),
        () => IndexStore.init(spark, s"$path/pq_codes", codes.schema),
        () => IndexStore.init(spark, s"$path/lsh_buckets", bucketSchema))
    } else {
      // ONE scan of the corpus produces BOTH growing artifacts (codes
      // and LSH bucket from the same projection, pinned), then every
      // independent write overlaps: the two store appends and the
      // three configuration-sized tables
      val combined = Similarity.pqEncode(
        corpus.select(col(idCol), col(vecCol),
          Similarity.lshBucket(col(vecCol), planes).as("bucket")),
        idCol, vecCol, cb).localCheckpoint(true)
      Concurrent.inParallel(
        () => writeTable(centroids, s"$path/ivf_centroids"),
        () => writeTable(cb, s"$path/pq_codebooks"),
        () => writeTable(manifest, s"$path/manifest"),
        () => IndexStore.append(combined.select(col(idCol), col("codes")),
          s"$path/pq_codes"),
        () => IndexStore.append(combined.select(col(idCol), col("bucket")),
          s"$path/lsh_buckets"))
    }
  }

  /** The build parameters persisted with the index, as
    * (dims, ivf_k, pq_m, pq_k, planes, iters). */
  def readManifest(spark: SparkSession, path: String): (Int, Int, Int, Int, Int, Int) = {
    val r = graft.ingest.FileIndex.readDirs(spark, Seq(s"$path/manifest"))
      .select(col("dims"), col("ivf_k"), col("pq_m"), col("pq_k"),
        col("planes"), col("iters")).head()
    (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))
  }

  /** Ingest a NEW shard into an existing index without retraining:
    * the persisted codebooks and plane count (recovered from the
    * manifest) encode the increment in one map-side pass each, and
    * the resulting codes/buckets APPEND to `pq_codes`/`lsh_buckets`.
    * The IVF centroid table is untouched — IVF serving derives
    * assignments from the corpus floats against the frozen
    * centroids, so it needs no per-shard artifact.
    *
    * Frozen-codebook semantics are the production contract: an
    * appended index serves EXACTLY as if the full corpus had been
    * encoded at build time against the original codebooks (the
    * argmax encode is per-row, so it decomposes over shards) — NOT
    * as if the index were rebuilt with the union as training data.
    * Drift that large deserves a new index version, not an append.
    *
    * Scale: each ingest pays one scan of its own shard — m
    * plan-literal argmaxes plus the plane projection, no shuffle, no
    * touch of previously indexed data. A `commitTag` makes the
    * append replay-idempotent (the two tables are [[IndexStore]]s):
    * a retried shard carrying its tag re-appends nothing, so
    * exactly-once ingestion needs no external transaction.
    */
  def append(inc: DataFrame, idCol: String, vecCol: String, path: String,
             commitTag: Option[String] = None): Unit = {
    val spark = inc.sparkSession
    // the manifest head() and the codebook collect (inside pqEncode,
    // via readPqCodebooks below) are independent tiny driver reads of
    // disjoint artifact tables — overlap them (r16; two sequential
    // job-latency rounds otherwise)
    val manifestF = Concurrent.forkValue(readManifest(spark, path))
    val cb = Concurrent.joinOnFailure(manifestF)(readPqCodebooks(spark, path))
    val (dims, _, _, _, planes, _) = manifestF()
    // the manifest's dims gate the increment: a wrong-dimensional (or
    // NULL) vector would otherwise encode garbage codes silently (the
    // pqEncode subvector slicing just misaligns) — assert_true rides
    // the encode scan, so the check costs no extra pass
    val guarded = inc.select(col(idCol), col(vecCol))
      .where(assert_true(size(col(vecCol)) === lit(dims),
        concat(lit("AnnIndex.append: increment vector length "),
          size(col(vecCol)).cast("string"),
          lit(s" != manifest dims $dims"))).isNull)
    // ONE scan of the shard produces BOTH artifacts — r13 ran the PQ
    // encode and the LSH projection as two separate scans of the
    // increment; the pinned (id, bucket, codes) table is bytes per
    // row, and the two independent store appends then overlap
    // (disjoint paths, so neither write waits on the other's claim)
    val combined = Similarity.pqEncode(
      guarded.withColumn("bucket", Similarity.lshBucket(col(vecCol), planes)),
      idCol, vecCol, cb).localCheckpoint(true)
    Concurrent.inParallel(
      () => IndexStore.append(combined.select(col(idCol), col("codes")),
        s"$path/pq_codes", commitTag.map(_ + ":codes")),
      () => IndexStore.append(combined.select(col(idCol), col("bucket")),
        s"$path/lsh_buckets", commitTag.map(_ + ":buckets")))
  }

  def readIvfCentroids(spark: SparkSession, path: String): DataFrame =
    graft.ingest.FileIndex.readDirs(spark, Seq(s"$path/ivf_centroids"))

  def readPqCodebooks(spark: SparkSession, path: String): DataFrame =
    graft.ingest.FileIndex.readDirs(spark, Seq(s"$path/pq_codebooks"))

  def readPqCodes(spark: SparkSession, path: String): DataFrame =
    IndexStore.read(spark, s"$path/pq_codes")

  def readLshBuckets(spark: SparkSession, path: String): DataFrame =
    IndexStore.read(spark, s"$path/lsh_buckets")

  /** Compact the two append-accumulating tables (`pq_codes`,
    * `lsh_buckets`) after a run of [[append]]s — file layout only,
    * rows unchanged: each store's data directories fold into one
    * ([[IndexStore.compact]]'s manifest contract: appends landing
    * mid-compaction are carried forward, no quiesce window). The
    * centroid/codebook/manifest tables never grow, so they never
    * need it.
    */
  def compact(spark: SparkSession, path: String): Unit =
    Seq("pq_codes", "lsh_buckets").foreach(t => IndexStore.compact(spark, s"$path/$t"))

  /** Fragmentation summary of BOTH growing sub-stores of an ANN index
    * ROOT — the counterpart [[compact]] accepts, so a maintenance
    * scheduler queries and compacts through the same path (the two
    * [[IndexStore]] manifests live under `pq_codes`/`lsh_buckets`, and
    * `IndexStore.stats` on the root would report "no index"). None
    * until both sub-stores have a committed manifest.
    */
  final case class Stats(pqCodes: IndexStore.Stats, lshBuckets: IndexStore.Stats) {
    /** 1 when either store holds more than one data directory. */
    def dirtyFraction: Double =
      math.max(pqCodes.dirtyFraction, lshBuckets.dirtyFraction)
  }

  /** [[IndexStore.stats]] for an ANN index ROOT (a [[build]]
    * directory): the fragmentation of both growing sub-stores, keyed
    * the same way [[compact]] is.
    */
  def stats(spark: SparkSession, path: String): Option[Stats] =
    for {
      c <- IndexStore.stats(spark, s"$path/pq_codes")
      b <- IndexStore.stats(spark, s"$path/lsh_buckets")
    } yield Stats(c, b)

  /** The non-growing artifact tables (centroids, codebooks, manifest)
    * are configuration-sized by contract — land each as one data file
    * plus the zero-row schema anchor (withSchemaAnchor unions it on)
    * instead of inheriting the builder's partitioning (a k-row
    * codebook table arriving 16-ways wrote 17 footer-only files and
    * every serving session paid to open them).
    */
  private def writeTable(df: DataFrame, path: String): Unit =
    TableWrite.withSchemaAnchor(df.coalesce(1), path)
}
