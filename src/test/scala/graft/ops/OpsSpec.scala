package graft.ops

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s1"),
    (2L, "the quick brown fox jumps over the lazy dog", "en", "s1"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat", "en", "s1"), // near dup of 1
    (4L, "The  quick,, brown fox jumps over the lazy dog!!", "en", "s1"), // fingerprint dup of 1
    (5L, "completely different text about spark engines and data", "en", "s1"),
    (6L, "der hund ist ein guter hund und die katze", "de", "s1"),
    (7L, "le chat est dans la maison et le chien", "fr", "s1")
  ).toDF("doc_id", "text", "lang", "source")

  test("exact and fingerprint dedup find planted duplicates") {
    val exact = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(exact.length == 1 && exact.head.getAs[Long]("dup_count") == 2)
    assert(exact.head.getAs[Long]("canonical_id") == 1L)
    val fp = Dedup.fingerprintGroups(docs, "doc_id", "text").collect()
    // normalization folds doc 4 into the 1/2 group
    assert(fp.length == 1 && fp.head.getAs[Long]("dup_count") == 3)
  }

  test("minhash index round-trip identity; multi-increment dedup equals the full-batch dedup") {
    val t = 0.25
    val batchKept = Dedup.dropPairedDuplicates(docs, "doc_id",
        Dedup.minhashLshPairs(docs, "doc_id", "text", k = 16, bands = 4, n = 3, threshold = t))
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val idx = graft.TempDir("graft_idx_spec").toString
    val part1 = docs.where($"doc_id" <= 2)                    // 2 is an exact dup of 1
    val part2 = docs.where($"doc_id" > 2 && $"doc_id" <= 4)   // near/fingerprint dups of 1
    val part3 = docs.where($"doc_id" > 4)
    Dedup.writeMinhashIndex(part1, "doc_id", "text", idx, k = 16, n = 3)

    // round-trip identity — and the index retains the DROPPED doc 2's
    // signatures (the batch rule compares against every past doc)
    val direct = Dedup.minhashSignaturesWide(part1, "doc_id", "text", k = 16, n = 3)
      .collect().map(_.toSeq).toSet
    val reloaded = IncrementalIndex.Minhash.read(spark, idx).collect().map(_.toSeq).toSet
    assert(reloaded == direct && reloaded.map(_.head) == Set(1L, 2L))

    val kept1 = Dedup.dropPairedDuplicates(part1, "doc_id",
        Dedup.minhashLshPairs(part1, "doc_id", "text", k = 16, bands = 4, n = 3, threshold = t))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept2 = Dedup.dedupIncrement(part2, "doc_id", "text", idx,
        k = 16, bands = 4, n = 3, threshold = t)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the second increment sees part1 AND part2 signatures (appended)
    val kept3 = Dedup.dedupIncrement(part3, "doc_id", "text", idx,
        k = 16, bands = 4, n = 3, threshold = t)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((kept1 ++ kept2 ++ kept3) == batchKept,
      s"incremental ${kept1 ++ kept2 ++ kept3} vs batch $batchKept")
    // and the index now carries every ingested doc's signatures
    assert(IncrementalIndex.Minhash.read(spark, idx).select("id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))

    // RETRY identity: re-running a shard whose signatures were already
    // appended (a failed consumer retried) returns the identical
    // verdict — neither a doc's own appended signature nor a larger
    // retried doc's can drop it
    val retry2 = Dedup.dedupIncrement(part2, "doc_id", "text", idx,
        k = 16, bands = 4, n = 3, threshold = t, appendSignatures = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val retry3 = Dedup.dedupIncrement(part3, "doc_id", "text", idx,
        k = 16, bands = 4, n = 3, threshold = t, appendSignatures = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(retry2 == kept2 && retry3 == kept3,
      s"retry must be idempotent: $retry2 vs $kept2; $retry3 vs $kept3")
  }

  test("ngram jaccard ranks near-dup above unrelated") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      blockCols = Seq("lang"), threshold = 0.0)
      .where($"jaccard" > 0).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard"))).toMap
    assert(pairs((1L, 2L)) == 1.0) // identical
    assert(pairs((1L, 3L)) > 0.5 && pairs((1L, 3L)) < 1.0) // near dup
    assert(!pairs.contains((1L, 5L)) || pairs((1L, 5L)) < 0.1)
  }

  test("minhash LSH surfaces exact + near duplicates, skips unrelated") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 16, bands = 4, threshold = 0.25).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("est_jaccard"))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) >= 0.25)
    assert(!pairs.contains((1L, 5L)))
  }

  test("simhash: identical texts agree, near-dups are close in hamming") {
    val sh = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("simhash")).toMap
    assert(sh.values.forall(_.length == 64))
    assert(sh(1L) == sh(2L))
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(sh(1L), sh(3L)) < ham(sh(1L), sh(5L)))
    assert(ham(sh(1L), sh(3L)) <= 16)
  }

  test("dedup removal: exact keeps canonical, paired drops id_b side") {
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 3L, 4L, 5L, 6L, 7L)) // doc 2 (dup of 1) dropped
    val keptNorm = Dedup.dropExactDuplicates(docs, "doc_id", "text", normalized = true)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keptNorm == Set(1L, 3L, 5L, 6L, 7L)) // 2 and 4 fold into 1

    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.25)
    val deduped = Dedup.dropPairedDuplicates(docs, "doc_id", pairs).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(deduped.contains(1L) && !deduped.contains(2L) && !deduped.contains(3L))
  }

  test("language-ID picks the stopword-matching language") {
    val langs = docs.select($"doc_id", TextAnalysis.langId($"text").as("l")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(1L) == "en")
    assert(langs(6L) == "de")
    assert(langs(7L) == "fr")
  }

  test("tf-idf top terms: smoothed idf formula, rank contract, term tiebreak") {
    val top = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 5).collect()
    val byDoc = top.groupBy(_.getAs[Long]("doc_id"))
    // rank is 1..min(k, n_terms) and scores are non-increasing within a doc
    byDoc.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.map(_.getAs[Double]("score")).toSeq.sliding(2).forall {
        case Seq(a, b) => a >= b; case _ => true
      })
    }
    // hand-computed: doc 1's "the" has tf=2, df=4 (docs 1-4), N=7
    // → score = round(2 * (ln(8/5) + 1), 6) = 2.940007, and it wins rank 1
    val d1 = byDoc(1L).minBy(_.getAs[Long]("rank"))
    assert(d1.getAs[String]("term") == "the")
    assert(d1.getAs[Double]("score") == 2.940007)
    // doc 5: every term has tf=1, df=1 (all-equal scores) → the window's
    // term tiebreak yields the 5 lexicographically-smallest terms in order
    val d5 = byDoc(5L).sortBy(_.getAs[Long]("rank")).map(_.getAs[String]("term")).toSeq
    assert(d5 == Seq("about", "and", "completely", "data", "different"))
  }

  test("unigram LM perplexity: corpus-typical docs score lower than outliers") {
    val ppl = TextAnalysis.lmPerplexity(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ppl")).toMap
    assert(ppl.size == 7)
    // docs 1/2 are the repeated sentence — maximally corpus-typical;
    // doc 5's vocabulary is unique to it — the high-ppl outlier
    assert(ppl(1L) == ppl(2L))
    assert(ppl(5L) > ppl(1L))
    // exact formula on a 2-doc corpus: "x x" + "y" → T=3, V=2,
    // p(x)=(2+1)/(3+2), p(y)=(1+1)/(3+2); avg_nll(doc1)=ln(5/3)
    val two = Seq((1L, "x x"), (2L, "y")).toDF("id", "t")
    val r = TextAnalysis.lmPerplexity(two, "id", "t").collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Long]("n_tokens") == 2L)
    assert(r(1L).getAs[Double]("avg_nll") == math.rint(math.log(5.0 / 3.0) * 1e6) / 1e6)
    assert(r(2L).getAs[Double]("avg_nll") == math.rint(math.log(5.0 / 2.0) * 1e6) / 1e6)
  }

  test("bigram perplexity: interpolated model, exact hand-check, common beats rare") {
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("id", "t")
    val r = TextAnalysis.bigramPerplexity(corpus, "id", "t").collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    // T=6, V=3; c(a)=3, c(b)=2, c(c)=1; c(a,b)=2, c(a,c)=1, ctx(a)=3
    // doc1: "a" first → (3+1)/9; "b"|a → 0.75·(2/3) + 0.25·(3/9)
    val p1 = (3 + 1.0) / (6L + 3L)
    val p2 = 0.75 * (2.0 / 3.0) + 0.25 * ((2 + 1.0) / (6L + 3L))
    val expected = math.rint(-(math.log(p1) + math.log(p2)) / 2 * 1e6) / 1e6
    assert(r(1L).getAs[Double]("avg_nll") == expected)
    assert(r(1L).getAs[Long]("n_tokens") == 2L)
    // identical docs score identically; the rarer continuation (a c)
    // scores strictly higher perplexity
    assert(r(2L).getAs[Double]("ppl") == r(1L).getAs[Double]("ppl"))
    assert(r(3L).getAs[Double]("ppl") > r(1L).getAs[Double]("ppl"))
  }

  test("Kneser-Ney perplexity: exact hand-check, continuation counts bind") {
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("id", "t")
    val r = TextAnalysis.knBigramPerplexity(corpus, "id", "t").collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    // bigram types: (a,b) cb=2, (a,c) cb=1 → N1+(··)=2; c(a·)=3,
    // N1+(a·)=2; N1+(·b)=N1+(·c)=1, N1+(·a)=0; V=3
    // doc1: "a" first → (0+1)/(2+3); "b"|a → (2−.75)/3 + .75·2/3·(1/2)
    val p1 = (0 + 1.0) / (2L + 3L)
    val p2 = math.max(2 - 0.75, 0.0) / 3.0 + 0.75 * 2.0 / 3.0 * (1.0 / 2)
    val expected = math.rint(-(math.log(p1) + math.log(p2)) / 2 * 1e6) / 1e6
    assert(r(1L).getAs[Double]("avg_nll") == expected)
    assert(r(1L).getAs[Long]("n_tokens") == 2L)
    // doc3's (a,c): (1−.75)/3 + .75·2/3·(1/2) — the discounted raw
    // count drops but the continuation term is identical, so the rare
    // continuation still scores strictly higher perplexity
    val p3 = math.max(1 - 0.75, 0.0) / 3.0 + 0.75 * 2.0 / 3.0 * (1.0 / 2)
    val expected3 = math.rint(-(math.log(p1) + math.log(p3)) / 2 * 1e6) / 1e6
    assert(r(3L).getAs[Double]("avg_nll") == expected3)
    assert(r(2L).getAs[Double]("ppl") == r(1L).getAs[Double]("ppl"))
    assert(r(3L).getAs[Double]("ppl") > r(1L).getAs[Double]("ppl"))
  }

  test("shared bigram class table: a composed pass paying the corpus class pass ONCE matches both standalone scorers") {
    val key = (x: Row) => x.getAs[Long]("doc_id")
    val ct = TextAnalysis.bigramClassTable(docs, "doc_id", "text")
    val biShared = TextAnalysis.bigramPerplexityFrom(ct).collect().map(x => key(x) -> x.toSeq).toMap
    val knShared = TextAnalysis.knBigramPerplexityFrom(ct).collect().map(x => key(x) -> x.toSeq).toMap
    val biSolo = TextAnalysis.bigramPerplexity(docs, "doc_id", "text").collect().map(x => key(x) -> x.toSeq).toMap
    val knSolo = TextAnalysis.knBigramPerplexity(docs, "doc_id", "text").collect().map(x => key(x) -> x.toSeq).toMap
    assert(biShared == biSolo)
    assert(knShared == knSolo)
  }

  test("top n-grams: planted repeats rank first with exact doc counts") {
    val top = TextAnalysis.topNgrams(docs, "doc_id", "text", n = 3, k = 10).collect()
    // the fox-sentence 3-grams appear once in each of docs 1,2,3,4 and
    // tie at 4 occurrences; the gram tiebreak puts the lexicographically
    // smallest first
    assert(top.head.getAs[String]("gram") == "brown fox jumps")
    assert(top.head.getAs[Long]("n_occurrences") == 4L)
    val tqb = top.find(_.getAs[String]("gram") == "the quick brown").get
    assert(tqb.getAs[Long]("n_occurrences") == 4L)
    assert(tqb.getAs[Long]("n_docs") == 4L)
    // counts arrive sorted descending with the gram tiebreak
    val occ = top.map(_.getAs[Long]("n_occurrences")).toSeq
    assert(occ == occ.sorted.reverse)
  }

  test("dsir importance weights: target-like raw docs outweigh off-domain ones") {
    val target = Seq(
      (100L, "spark engines process data with tables and queries"),
      (101L, "data tables feed spark queries and spark engines")
    ).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "spark engines process data tables"),          // in-domain
      (2L, "le chat est dans la maison et le chien"),     // off-domain
      (3L, "der hund ist ein guter hund und die katze")   // off-domain
    ).toDF("doc_id", "text")
    val w = TextAnalysis.dsirLogWeights(raw, target, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Double]("log_weight"))).toMap
    assert(w.size == 3)
    // unigrams + bigrams: 5 tokens → 5 + 4 grams
    assert(w(1L)._1 == 9L)
    assert(w(1L)._2 > w(2L)._2 && w(1L)._2 > w(3L)._2)
    // per-doc weights are scale-free of doc order: permuting raw rows
    // changes nothing (pure aggregates)
    val w2 = TextAnalysis.dsirLogWeights(
        raw.orderBy(desc("doc_id")), target, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("log_weight")).toMap
    assert(w.forall { case (k, (_, lw)) => w2(k) == lw })
  }

  test("dsir gumbel resample: deterministic, size-k, distributed top-k tail") {
    val target = docs.where($"lang" === "en")
    val raw = docs
    val s1 = TextAnalysis.dsirResample(raw, target, "doc_id", "text", k = 4)
    val r1 = s1.collect()
    val r2 = TextAnalysis.dsirResample(raw, target, "doc_id", "text", k = 4).collect()
    assert(r1.length == 4)
    assert(r1.map(_.getAs[Long]("doc_id")).toSeq == r2.map(_.getAs[Long]("doc_id")).toSeq)
    // keys arrive sorted descending and every id comes from the raw side
    val keys = r1.map(_.getAs[Double]("samp_key")).toSeq
    assert(keys == keys.sorted.reverse)
    val rawIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(r1.forall(r => rawIds(r.getAs[Long]("doc_id"))))
    // bounded-k selection must be a TakeOrderedAndProject, not a global sort
    assert(s1.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("cross-corpus minhash: finds batch-vs-corpus dups, never self-joins a side") {
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "totally unrelated corpus content about databases")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 100
      (2L, "the quick brown fox jumps over the lazy cat"),  // near dup of 100
      (3L, "fresh new content nothing like the existing corpus rows"),
      (4L, "fresh new content nothing like the existing corpus stuff") // near-dups WITHIN batch only
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairsAcross(batch, corpus, "doc_id", "text",
        threshold = 0.25).collect()
    val pairSet = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairSet.contains((1L, 100L)))
    // within-batch near-dups (3,4) must NOT pair — bipartite only
    assert(pairs.forall(r => r.getAs[Long]("id_b") >= 100L))
    assert(!pairSet.exists(p => p._1 == 3L || p._1 == 4L))
    // the exact dup's estimate is 1.0 (all 16 slots agree)
    assert(pairs.find(r => r.getAs[Long]("id_a") == 1L)
      .get.getAs[Double]("est_jaccard") == 1.0)
    // apply: dropped docs are exactly the paired id_a side
    val kept = Dedup.dropCrossDuplicates(batch, corpus, "doc_id", "text",
        threshold = 0.25).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 4L) -- pairSet.map(_._1))

    // the amortized form: a persisted corpus signature table gives the
    // same pairs without re-scanning the corpus per batch
    val sigDir = graft.TempDir("graft_sigs").toString
    Dedup.minhashSignaturesWide(corpus, "doc_id", "text").write
      .mode("overwrite").parquet(sigDir)
    val viaSigs = Dedup.minhashLshPairsAcrossSigs(
        batch, spark.read.parquet(sigDir), "doc_id", "text", threshold = 0.25)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(viaSigs == pairSet)
  }

  test("cosine and brute-force top-k are exact") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val c = vecs.where($"vec_id" === 1).crossJoin(
        vecs.where($"vec_id" === 3).select($"embedding".as("e2")))
      .select(Similarity.cosine($"embedding", $"e2").as("c")).head().getDouble(0)
    assert(math.abs(c - math.sqrt(2) / 2) < 1e-15)

    val topk = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" === 1), "vec_id", "embedding", k = 3)
      .collect().sortBy(_.getAs[Int]("rank"))
    assert(topk.map(_.getAs[Long]("nn_id")).toSeq == Seq(3L, 2L, 4L)) // cos: .707, 0, -1
  }

  test("LSH bucket: identical vectors share bucket; ANN finds in-bucket hits") {
    val vecs = Seq(
      (1L, Array.tabulate(16)(i => math.sin(i + 1).toFloat)),
      (2L, Array.tabulate(16)(i => math.sin(i + 1).toFloat)), // identical to 1
      (3L, Array.tabulate(16)(i => math.cos(i * 3 + 2).toFloat))
    ).toDF("vec_id", "embedding")
    val buckets = vecs.select($"vec_id", Similarity.lshBucket($"embedding", 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(buckets(1L) == buckets(2L))
    val ann = Similarity.lshTopK(vecs, vecs.where($"vec_id" === 1), "vec_id", "embedding", k = 5)
      .collect()
    assert(ann.exists(r => r.getAs[Long]("nn_id") == 2L &&
      math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-12))
  }

  test("IVF ANN: probed lists find true neighbors, recall bounded by nprobe") {
    val vecs = (0L until 60L).map { i =>
      // three obvious clusters around orthogonal axes + noise
      val base = (i % 3).toInt
      val arr = Array.fill(8)(0.01f * ((i * 7 % 13).toInt - 6))
      arr(base) = 1.0f
      (i, arr)
    }.toDF("vec_id", "embedding")
    // centroids: one representative per cluster
    val cents = vecs.where($"vec_id" < 3)
    val queries = vecs.where($"vec_id" >= 3 && $"vec_id" < 6)
    val res = Similarity.ivfTopK(vecs, queries, cents, "vec_id", "embedding", k = 5, nprobe = 1)
      .collect()
    assert(res.nonEmpty)
    // every returned neighbor shares the query's cluster (axis)
    res.foreach { r =>
      val q = r.getAs[Long]("query_id"); val nn = r.getAs[Long]("nn_id")
      assert(q % 3 == nn % 3, s"query $q got cross-cluster neighbor $nn")
      assert(r.getAs[Double]("cosine") > 0.5)
    }
    // exact brute force within the probed cluster agrees on the top hit
    val bf = Similarity.bruteForceTopK(vecs.where($"vec_id" % 3 === 0), queries.where($"vec_id" === 3),
      "vec_id", "embedding", k = 1).head()
    val ivfTop = res.filter(r => r.getAs[Long]("query_id") == 3L)
      .minBy(_.getAs[Int]("rank"))
    assert(bf.getAs[Long]("nn_id") == ivfTop.getAs[Long]("nn_id"))
  }

  test("WordShingles kernel matches the declarative HOF formulation") {
    val texts = Seq(
      "", " ", "!!!", "a", "a b", "a b c", "a b c d", "the the the the",
      "Hello, WORLD!! 123 foo_bar baz", "àccents über naïve café",
      "ΚΑΛΗ κόσμε mixed ascii words",
      "tabs\tand\nnewlines  double  spaces", "ThE QuIcK bRoWn FoX 42 7x 0z",
      "a-b-c-d-e-f repeated a-b-c-d-e-f repeated").toDF("text")
    for (n <- Seq(1, 2, 3, 5); dedup <- Seq(true, false)) {
      val toks = TextAnalysis.tokens(col("text"))
      val arr = transform(sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))
      val decl = when(size(toks) >= n, if (dedup) array_distinct(arr) else arr)
        .otherwise(array(concat_ws(" ", toks)))
      val kernel = graft.functions.TextExpressions.word_shingles(col("text"), n, dedup)
      texts.select(kernel.as("k"), decl.as("d")).collect().foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n dedup=$dedup: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      }
    }
  }

  test("ShingleHashes kernel matches md5/substring/conv on shingle strings") {
    val texts = Seq("the quick brown fox jumps", "", "one two", "Hello, WORLD!! 123",
      "àccents über naïve café", "a a a a a a").toDF("text")
    val viaExprs = texts.select(
      explode(graft.functions.TextExpressions.word_shingles(col("text"), 3, dedup = false)).as("s"))
      .select(conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
      .collect().map(_.getLong(0)).sorted.toSeq
    val viaKernel = texts.select(
      explode(graft.functions.TextExpressions.shingle_hashes(col("text"), 3)).as("h"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(viaKernel == viaExprs && viaKernel.nonEmpty)
  }

  test("IVF trainer: deterministic output, sane shape, feeds ivfTopK") {
    val vecs = (0L until 60L).map { i =>
      val base = (i % 3).toInt
      val arr = Array.fill(8)(0.01f * ((i * 7 % 13).toInt - 6))
      arr(base) = 1.0f
      (i, arr)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroids(vecs, "vec_id", "embedding", k = 3, iters = 2)
    val rows = cents.orderBy($"cent_id").collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getSeq[Double](1).length == 8))
    // re-training is bit-identical (deterministic init + decimal sums)
    val again = Similarity.trainIvfCentroids(vecs, "vec_id", "embedding", k = 3, iters = 2)
      .orderBy($"cent_id").collect()
    assert(rows.map(_.getSeq[Double](1)).toSeq == again.map(_.getSeq[Double](1)).toSeq)
    // trained centroids drive the IVF search end-to-end
    val centTable = cents.select($"cent_id".as("vec_id"), $"centroid".as("embedding"))
    val res = Similarity.ivfTopK(vecs, vecs.where($"vec_id" < 3), centTable,
      "vec_id", "embedding", k = 3, nprobe = 1)
    assert(res.count() > 0)
  }

  test("embedding near-dup: unblocked path goes through LSH candidate generation") {
    val vecs = Seq(
      (1L, Array.tabulate(16)(i => math.sin(i + 1).toFloat), "x"),
      (2L, Array.tabulate(16)(i => math.sin(i + 1).toFloat), "x"), // identical to 1
      (3L, Array.tabulate(16)(i => math.cos(i * 3 + 2).toFloat), "x")
    ).toDF("vec_id", "embedding", "label")
    val unblocked = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", threshold = 0.9)
    val plan = unblocked.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"unblocked near-dup must not plan an all-pairs join:\n$plan")
    assert(unblocked.collect().map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
    val blocked = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", 0.9, Some("label"))
    val bplan = blocked.queryExecution.executedPlan.toString
    assert(!bplan.contains("CartesianProduct") && !bplan.contains("BroadcastNestedLoopJoin"))
    assert(blocked.collect().map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
  }

  test("real image codec: ImageIO decode, luma features, resize round-trip") {
    // build genuine PNG bytes in-process: a 40x20 solid color and a
    // 300x100 gradient
    def png(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val solid = png(40, 20, (_, _) => 0x808080) // luma exactly 128
    val grad = png(300, 100, (x, _) => (x * 255 / 299) << 16)
    val media = Seq(
      (1L, solid, Row("png", 40, 20, 1)),
      (2L, grad, Row("png", 300, 100, 1)),
      (3L, "not an image".getBytes("UTF-8"), Row("txt", 0, 0, 1)))
      .map { case (id, c, m) => Row(id, c, m) }
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(media: _*)),
      Multimodal.mediaSchema)

    val feats = Multimodal.extractImageFeatures(df).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(feats(1L).getAs[Int]("img_width") == 40 &&
      feats(1L).getAs[Int]("img_height") == 20)
    assert(math.abs(feats(1L).getAs[Double]("img_mean_luma") - 128.0) < 0.6)
    assert(feats(2L).getAs[Int]("img_width") == 300)
    assert(feats(3L).isNullAt(feats(3L).fieldIndex("img_width"))) // undecodable → null

    val resized = Multimodal.resizeImages(df, 64).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    // 300x100 fits to 64x21; re-decode the actual emitted bytes
    val rimg = Multimodal.decodeImage(resized(2L).getAs[Array[Byte]]("content")).get
    assert(rimg.getWidth == 64 && rimg.getHeight == 21)
    assert(resized(2L).getStruct(2).getInt(1) == 64 && resized(2L).getStruct(2).getInt(2) == 21)
    // 40x20 already fits — unchanged dims; non-image passes through
    val s = Multimodal.decodeImage(resized(1L).getAs[Array[Byte]]("content")).get
    assert(s.getWidth == 40 && s.getHeight == 20)
    assert(new String(resized(3L).getAs[Array[Byte]]("content"), "UTF-8") == "not an image")
  }

  test("salted equi-join is row-identical to the plain join and keys on the salt") {
    // 5000 rows, 90% on one hot key
    val big = spark.range(5000)
      .selectExpr("CASE WHEN id % 10 = 0 THEN id ELSE 42 END AS k", "id AS payload")
    val small = spark.range(50).selectExpr("id AS k", "id * 100 AS attr")
    val plain = big.join(small, "k").selectExpr("k", "payload", "attr")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val salted = Salting.saltedEquiJoin(big, small, Seq("k"), factor = 8)
      .selectExpr("k", "payload", "attr")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(salted == plain && plain.nonEmpty)
    // left join parity incl. unmatched rows
    val plainL = big.join(small, Seq("k"), "left").count()
    val saltedL = Salting.saltedEquiJoin(big, small, Seq("k"), 8, "left").count()
    assert(saltedL == plainL)
    // the salt is part of the join key (visible in the executed plan)
    val plan = Salting.saltedEquiJoin(big, small, Seq("k"), 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("_salt_b") && plan.contains("_salt_s"))
  }

  test("real audio codec: WAV PCM decode, duration/rms/zcr features") {
    // genuine 16-bit PCM WAV built in-process: 0.5 s of a 400 Hz sine
    // at 8 kHz, amplitude 0.5
    def wav(seconds: Double, hz: Double, amp: Double, rate: Float = 8000f): Array[Byte] = {
      val n = (seconds * rate).toInt
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val v = (amp * math.sin(2 * math.Pi * hz * i / rate) * 32767).toInt.toShort
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val rows = Seq(
      Row(1L, wav(0.5, 400, 0.5), Row("wav", 0, 0, 1)),
      Row(2L, "not audio".getBytes("UTF-8"), Row("txt", 0, 0, 1)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      Multimodal.mediaSchema)
    val feats = Multimodal.extractAudioFeatures(df).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    val a = feats(1L)
    assert(math.abs(a.getAs[Double]("audio_seconds") - 0.5) < 0.01)
    // rms of a 0.5-amplitude sine = 0.5 / sqrt(2)
    assert(math.abs(a.getAs[Double]("audio_rms") - 0.5 / math.sqrt(2)) < 0.01)
    // a 400 Hz tone at 8 kHz crosses zero ~800x/s → zcr ~0.1/sample
    assert(math.abs(a.getAs[Double]("audio_zcr") - 0.1) < 0.01)
    assert(feats(2L).isNullAt(feats(2L).fieldIndex("audio_seconds")))
  }

  test("real video codec: MJPEG-AVI frame extraction + decode") {
    def jpeg(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    // hand-assemble a minimal RIFF/AVI: RIFF('AVI ' LIST('movi' 00dc...))
    def avi(frames: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      def le32(v: Int): Array[Byte] =
        Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
          ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      val movi = new java.io.ByteArrayOutputStream()
      movi.write("movi".getBytes("ISO-8859-1"))
      frames.foreach { f =>
        movi.write("00dc".getBytes("ISO-8859-1")); movi.write(le32(f.length))
        movi.write(f); if (f.length % 2 == 1) movi.write(0)
      }
      val m = movi.toByteArray
      val inner = new java.io.ByteArrayOutputStream()
      inner.write("AVI ".getBytes("ISO-8859-1"))
      inner.write("LIST".getBytes("ISO-8859-1")); inner.write(le32(m.length)); inner.write(m)
      val body = inner.toByteArray
      bos.write("RIFF".getBytes("ISO-8859-1")); bos.write(le32(body.length)); bos.write(body)
      bos.toByteArray
    }
    val f1 = jpeg(40, 20, 0x808080)
    val f2 = jpeg(20, 10, 0x404040)
    val video = avi(Seq(f1, f2, f1))
    val raw = Multimodal.decodeMjpegFrames(video)
    assert(raw.length == 3 && raw.forall(f => (f(0) & 0xff) == 0xff))
    val rows = Seq(Row(1L, video, Row("avi", 40, 20, 3)),
      Row(2L, "not video".getBytes("UTF-8"), Row("txt", 0, 0, 1)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      Multimodal.mediaSchema)
    val frames = Multimodal.sampleFramesDecoded(df, everyN = 2).collect()
      .sortBy(_.getInt(1))
    // frames 0 and 2 sampled, both 40x20 gray (~128 luma after JPEG loss)
    assert(frames.length == 2)
    assert(frames.forall(_.getAs[Long]("media_id") == 1L))
    assert(frames.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 2))
    assert(frames.forall(r => r.getAs[Int]("frame_width") == 40 &&
      r.getAs[Int]("frame_height") == 20 &&
      math.abs(r.getAs[Double]("frame_mean_luma") - 128.0) < 3.0))
    // clean media report zero decode failures
    assert(frames.forall(_.getAs[Int]("n_frames_failed") == 0))
  }

  test("poisoned middle frame: decode failures are counted, not silently truncated") {
    def jpeg(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    def avi(frames: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      def le32(v: Int): Array[Byte] =
        Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
          ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      val movi = new java.io.ByteArrayOutputStream()
      movi.write("movi".getBytes("ISO-8859-1"))
      frames.foreach { f =>
        movi.write("00dc".getBytes("ISO-8859-1")); movi.write(le32(f.length))
        movi.write(f); if (f.length % 2 == 1) movi.write(0)
      }
      val m = movi.toByteArray
      val inner = new java.io.ByteArrayOutputStream()
      inner.write("AVI ".getBytes("ISO-8859-1"))
      inner.write("LIST".getBytes("ISO-8859-1")); inner.write(le32(m.length)); inner.write(m)
      val body = inner.toByteArray
      bos.write("RIFF".getBytes("ISO-8859-1")); bos.write(le32(body.length)); bos.write(body)
      bos.toByteArray
    }
    val good = jpeg(16, 8, 0x808080)
    // the middle chunk is structurally intact RIFF (length-prefixed)
    // and carries the JPEG SOI marker — so the container splitter
    // accepts it as a frame — but the body is not decodable
    val poison = Array.fill[Byte](good.length)(0x5a)
    poison(0) = 0xff.toByte; poison(1) = 0xd8.toByte
    val video = avi(Seq(good, poison, good))
    val counted = Multimodal.MjpegDecoder.decodeFramesCounted(video, maxFrames = 256)
    assert(counted.frames.length == 2 && counted.nFailed == 1)
    // decodeFrames keeps its old truncating contract
    assert(Multimodal.MjpegDecoder.decodeFrames(video, 256).length == 2)
    // and the loss is observable through the Spark pipeline column
    val rows = Seq(Row(1L, video, Row("avi", 16, 8, 3)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      Multimodal.mediaSchema)
    val out = Multimodal.sampleFramesDecoded(df, everyN = 1).collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[Int]("n_frames_failed") == 1))
  }

  test("multimodal plumbing: features + resize + frames") {
    val media = Multimodal.syntheticMedia(docs)
    assert(media.schema("content").dataType == org.apache.spark.sql.types.BinaryType)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 7)
    assert(feats.forall(_.getAs[Double]("f_n_bytes") == 32.0)) // md5 hex bytes
    // the column-expression stub agrees exactly with the
    // partition-local decoder slot
    val viaDecoder = Multimodal.extractFeaturesWithDecoder(media).collect()
      .map(r => r.getAs[Long]("media_id") -> (r.getAs[Double]("f_mean_byte"), r.getAs[Double]("f_n_bytes"))).toMap
    feats.foreach { r =>
      assert(viaDecoder(r.getAs[Long]("media_id")) ==
        ((r.getAs[Double]("f_mean_byte"), r.getAs[Double]("f_n_bytes"))))
    }
    val resized = Multimodal.resizeMeta(media, 64)
    val dims = resized.select($"meta.width", $"meta.height").collect()
    assert(dims.forall(r => r.getInt(0) <= 64 && r.getInt(1) <= 64))
    val frames = Multimodal.sampleFrames(media, everyN = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.getAs[Array[Byte]]("frame_bytes").length <= 4))
  }

  test("real video codec: animated-GIF frame extraction with patch compositing") {
    def gray(w: Int, h: Int, v: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, (v << 16) | (v << 8) | v)
      img
    }
    // animated GIF via the JDK's own sequence writer: full first frame,
    // then a half-size patch at offset (8, 4) — the decoder must
    // composite it onto the first frame, not emit the bare patch
    def animatedGif(first: java.awt.image.BufferedImage,
                    patch: java.awt.image.BufferedImage, px: Int, py: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      def meta(img: java.awt.image.BufferedImage, x: Int, y: Int) = {
        val p = writer.getDefaultWriteParam
        val m = writer.getDefaultImageMetadata(
          new javax.imageio.ImageTypeSpecifier(img), p)
        val fmt = "javax_imageio_gif_image_1.0"
        val tree = m.getAsTree(fmt).asInstanceOf[org.w3c.dom.Element]
        val d = tree.getElementsByTagName("ImageDescriptor").item(0)
          .asInstanceOf[org.w3c.dom.Element]
        d.setAttribute("imageLeftPosition", x.toString)
        d.setAttribute("imageTopPosition", y.toString)
        m.setFromTree(fmt, tree)
        m
      }
      writer.writeToSequence(new javax.imageio.IIOImage(first, null, meta(first, 0, 0)), null)
      writer.writeToSequence(new javax.imageio.IIOImage(patch, null, meta(patch, px, py)), null)
      writer.endWriteSequence()
      ios.close()
      bos.toByteArray
    }
    val bytes = animatedGif(gray(16, 8, 100), gray(8, 4, 200), 8, 4)
    val frames = Multimodal.GifDecoder.decodeFrames(bytes, maxFrames = 256)
    assert(frames.length == 2)
    assert(frames.forall(f => f.getWidth == 16 && f.getHeight == 8))
    assert((frames(0).getRGB(0, 0) & 0xff) == 100)
    // frame 1 = frame 0 with the 200-gray patch composited at (8, 4)
    assert((frames(1).getRGB(0, 0) & 0xff) == 100)
    assert((frames(1).getRGB(10, 5) & 0xff) == 200)
    assert(Multimodal.GifDecoder.decodeFrames("not a gif".getBytes("UTF-8"), 4).isEmpty)

    // and through the Spark pipeline, dispatched on meta.format
    val rows = Seq(Row(1L, bytes, Row("gif", 16, 8, 2)),
      Row(2L, "garbage".getBytes("UTF-8"), Row("gif", 0, 0, 1)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      Multimodal.mediaSchema)
    val out = Multimodal.sampleFramesDecoded(df, everyN = 1).collect().sortBy(_.getInt(1))
    assert(out.length == 2 && out.forall(_.getAs[Long]("media_id") == 1L))
    assert(out.forall(r => r.getAs[Int]("frame_width") == 16 && r.getAs[Int]("frame_height") == 8))
    // mean luma rises when the brighter patch lands (GIF is lossless on
    // exact grays: 100 -> (100*128 + 200*32)/128... composited region is
    // 8x4 of 16x8 = 1/4 of the pixels)
    val lumas = out.map(_.getAs[Double]("frame_mean_luma"))
    assert(math.abs(lumas(0) - 100.0) < 1.0)
    assert(math.abs(lumas(1) - 125.0) < 1.0)
  }

  test("syntheticGif: the column-expression container decodes through the REAL GIF reader") {
    import spark.implicits._
    val docs = Seq((0L, "x"), (5L, "y"), (7L, "z")).toDF("doc_id", "text")
    val media = Multimodal.syntheticGif(docs)
    val out = Multimodal.sampleFramesDecoded(media, everyN = 1).collect()
      .groupBy(_.getAs[Long]("media_id"))
    // frame count = (id mod 3) + 2, straight from the container
    assert(out(0L).length == 2 && out(5L).length == 4 && out(7L).length == 3)
    assert(out.values.flatten.forall(r =>
      r.getAs[Int]("frame_width") == 4 && r.getAs[Int]("frame_height") == 2))
    // pixel (x,y) of frame f = palette entry (id·31+x+5y+7f) mod 128,
    // gray 2v → mean luma = mean over pixels of 2v·(0.299+0.587+0.114)
    for ((id, rows) <- out; r <- rows) {
      val fi = r.getAs[Int]("frame_idx")
      val want = (0 until 8).map { i =>
        val g = 2.0 * ((id * 31 + (i % 4) + 5 * (i / 4) + 7 * fi) % 128)
        g * 0.299 + g * 0.587 + g * 0.114
      }.sum / 8
      assert(math.abs(r.getAs[Double]("frame_mean_luma") - want) < 1e-9,
        s"id=$id frame=$fi")
    }
  }

  test("video decoder seam: a plugged compressed-format decoder drives the same pipeline") {
    // toy compressed format standing in for an H.264 binding:
    // "RAWV" magic, u8 width, u8 height, then per-frame gray planes
    object RawvDecoder extends Multimodal.VideoDecoder {
      def formats: Set[String] = Set("h264")
      def decodeFrames(content: Array[Byte], maxFrames: Int): Seq[java.awt.image.BufferedImage] = {
        if (content == null || content.length < 6 ||
          new String(content, 0, 4, "ISO-8859-1") != "RAWV") return Nil
        val w = content(4) & 0xff; val h = content(5) & 0xff
        if (w == 0 || h == 0) return Nil
        val frameLen = w * h
        val n = math.min((content.length - 6) / frameLen, maxFrames)
        (0 until n).map { f =>
          // TYPE_INT_RGB: getRGB is exact (TYPE_BYTE_GRAY would remap
          // linear gray to sRGB and skew the luma check)
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var i = 0
          while (i < frameLen) {
            val g = content(6 + f * frameLen + i) & 0xff
            img.setRGB(i % w, i / w, (g << 16) | (g << 8) | g)
            i += 1
          }
          img
        }
      }
    }
    val w = 8; val h = 4
    val frames = (0 until 5).flatMap(f => Array.fill(w * h)((f * 40 + 20).toByte))
    val bytes = "RAWV".getBytes("ISO-8859-1") ++ Array(w.toByte, h.toByte) ++ frames
    val rows = Seq(
      Row(1L, bytes, Row("h264", w, h, 5)),
      Row(2L, "garbage".getBytes("UTF-8"), Row("h264", 0, 0, 1)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      Multimodal.mediaSchema)
    val out = Multimodal.sampleFramesDecoded(df, everyN = 2,
      decoders = Seq(Multimodal.MjpegDecoder, RawvDecoder)).collect().sortBy(_.getInt(1))
    // frames 0, 2, 4 sampled from media 1; media 2 is undecodable → dropped
    assert(out.length == 3)
    assert(out.forall(_.getAs[Long]("media_id") == 1L))
    assert(out.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 2, 4))
    assert(out.forall(r => r.getAs[Int]("frame_width") == w && r.getAs[Int]("frame_height") == h))
    // gray value of frame f is f*40+20 exactly (no JPEG loss in the toy codec)
    assert(out.map(_.getAs[Double]("frame_mean_luma")).zip(Seq(20.0, 100.0, 180.0))
      .forall { case (a, e) => math.abs(a - e) < 1.0 })
  }

  test("winnowing fingerprints: near-dups overlap, unrelated don't, edits stay local") {
    val fps = docs.select($"doc_id",
        TextAnalysis.winnowFingerprints($"text", k = 8, w = 4).as("fps"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1).toSet).toMap
    assert(fps(1L) == fps(2L))                      // identical docs
    assert(fps(1L) == fps(4L))                      // punctuation-variant (same canonical form)
    val nearOverlap = (fps(1L) & fps(3L)).size.toDouble / (fps(1L) | fps(3L)).size
    assert(nearOverlap > 0.3, s"near-dup overlap $nearOverlap")  // one-word edit
    val farOverlap = (fps(1L) & fps(5L)).size.toDouble / (fps(1L) | fps(5L)).size
    assert(farOverlap < 0.1, s"unrelated overlap $farOverlap")
    assert(fps.values.forall(s => s.nonEmpty && s.forall(_.length == 15)))
  }

  test("hierarchical IVF trainer: deterministic, consumable by ivfTopK, base-equivalent for small k") {
    val vecs = (0L until 120L).map { i =>
      (i, Array.tabulate(8)(d => math.cos(i * 0.61 + d * 0.83)))
    }.toDF("vec_id", "embedding")
    val c1 = Similarity.trainIvfCentroidsHierarchical(vecs, "vec_id", "embedding",
      k = 12, branch = 4, iters = 2)
    val c2 = Similarity.trainIvfCentroidsHierarchical(vecs, "vec_id", "embedding",
      k = 12, branch = 4, iters = 2)
    val r1 = c1.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val r2 = c2.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(r1 == r2)                         // bit-identical re-run
    assert(r1.nonEmpty && r1.size <= 12)
    assert(r1.keys.forall(id => id >= 0 && id < 12))
    // the codebook drives ivfTopK unchanged
    val cents = c1.select($"cent_id".as("vec_id"), $"centroid".as("embedding"))
    val res = Similarity.ivfTopK(vecs, vecs.where($"vec_id" < 2), cents,
      "vec_id", "embedding", k = 3, nprobe = 2)
    assert(res.count() > 0)
    // k <= branch falls back to the base trainer exactly
    val small = Similarity.trainIvfCentroidsHierarchical(vecs, "vec_id", "embedding",
      k = 3, branch = 4, iters = 2).collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val base = Similarity.trainIvfCentroids(vecs, "vec_id", "embedding", k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(small == base)
  }

  test("multi-probe LSH recall dominates single-bucket recall") {
    val vecs = (0L until 200L).map { i =>
      (i, Array.tabulate(16)(d => math.sin(i * 0.37 + d * 1.3)))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where($"vec_id" < 8)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nn_id"))).toSet
    val exact  = hits(Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 5))
    val single = hits(Similarity.lshTopK(vecs, queries, "vec_id", "embedding", k = 5, planes = 6))
    val multi  = hits(Similarity.lshTopK(vecs, queries, "vec_id", "embedding", k = 5,
      planes = 6, hamming = 1))
    assert(single.subsetOf(multi) ||
      (multi & exact).size >= (single & exact).size) // probing never loses recall
    assert((multi & exact).size >= (single & exact).size)
    // every multi-probe pair is a genuine bucket-or-neighbor match
    assert(multi.nonEmpty)
  }

  test("winnowPairs ranks near-dup above unrelated, like the shingle family") {
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text",
        blockCols = Seq("lang"), k = 8, w = 4, threshold = 0.0)
      .where($"fp_jaccard" > 0).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("fp_jaccard"))).toMap
    assert(pairs((1L, 2L)) == 1.0)                    // identical docs share all fingerprints
    assert(pairs((1L, 4L)) == 1.0)                    // punctuation variant, same canonical form
    // near dup scores high; winnowing may legitimately select no
    // fingerprint from a short differing tail, so 1.0 is possible
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) >= 0.5)
    assert(!pairs.contains((1L, 5L)) || pairs((1L, 5L)) < 0.1)
  }

  test("deterministic sampling: reproducible, rate-accurate, stratified rates apply") {
    val ids = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val s1 = Sampling.deterministicSample(ids, "id", 0.3).collect().map(_.getLong(0)).toSet
    val s2 = Sampling.deterministicSample(ids, "id", 0.3).collect().map(_.getLong(0)).toSet
    assert(s1 == s2)                                 // bit-identical re-run
    assert(math.abs(s1.size / 2000.0 - 0.3) < 0.05)  // rate within 5pp
    // monotone: a larger fraction keeps a superset
    val s3 = Sampling.deterministicSample(ids, "id", 0.6).collect().map(_.getLong(0)).toSet
    assert(s1.subsetOf(s3))
    val strat = Sampling.stratifiedSample(ids, "id", "lang", Map("en" -> 1.0, "de" -> 0.0))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(strat.forall(_._2 == "en") && strat.length == 1000)
    // fraction 0/1 edge cases
    assert(Sampling.deterministicSample(ids, "id", 0.0).count() == 0)
    assert(Sampling.deterministicSample(ids, "id", 1.0).count() == 2000)
  }

  test("split assignment: disjoint, exhaustive, rate-accurate, consistent with sampling") {
    val ids = (0L until 2000L).map(i => (i, s"d$i")).toDF("id", "x")
    val got = Sampling.splitAssign(ids, "id", Seq("train" -> 0.8, "val" -> 0.1))
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(got.size == 2000)                       // every row exactly one label
    val byLabel = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(byLabel("train") / 2000.0 - 0.8) < 0.05)
    assert(math.abs(byLabel("val") / 2000.0 - 0.1) < 0.03)
    assert(math.abs(byLabel("test") / 2000.0 - 0.1) < 0.03)
    // band structure composes with deterministicSample: the train
    // band IS the 0.8 sample (same hash, same threshold)
    val sampled = Sampling.deterministicSample(ids, "id", 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(got.filter(_._2 == "train").keySet == sampled)
    // over-allocated fractions are rejected
    intercept[IllegalArgumentException](
      Sampling.splitAssign(ids, "id", Seq("a" -> 0.9, "b" -> 0.2)))
  }

  test("redaction masks the PII set globally, in order, counting matches") {
    val rows = Seq(
      (1L, "mail me at a.b+c@ex-ample.org or x@y.io today"),
      (2L, "visit https://ex.com/p?q=1 from 10.0.0.1"),
      (3L, "call +1 (555) 123-4567 now"),
      (4L, "clean text, nothing to hide")).toDF("id", "text")
    val got = rows.select(col("id"),
        TextAnalysis.redact(col("text")).as("red"),
        TextAnalysis.matchCount(col("text"),
          TextAnalysis.PiiPatterns.head._1).as("n_mail"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1L) == ("mail me at [EMAIL] or [EMAIL] today", 2L))
    assert(got(2L)._1 == "visit [URL] from [IP]")
    assert(got(3L)._1 == "call [PHONE] now")
    assert(got(4L) == ("clean text, nothing to hide", 0L))
  }

  test("int8 quantization: bounded values, bounded error, quantized cosine tracks exact") {
    val vecs = Seq(
      (1L, Array(0.5, -1.0, 0.25, 0.75)),
      (2L, Array(0.45, -0.95, 0.2, 0.8)),
      (3L, Array(-3.0, 2.0, 0.0, 1.0)),
      (4L, Array(0.0, 0.0, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(vecs, "embedding")
    val rows = q.collect().map(r => r.getAs[Long]("vec_id") ->
      ((r.getSeq[Int](r.fieldIndex("q_vec")), r.getAs[Double]("q_scale")))).toMap
    assert(rows.values.forall(_._1.forall(v => v >= -127 && v <= 127)))
    assert(rows(1L)._1.contains(-127))               // the max-|x| slot saturates
    assert(rows(4L)._1.forall(_ == 0) && rows(4L)._2 == 0.0)
    // reconstruction error ≤ scale/2 per element
    vecs.collect().foreach { r =>
      val id = r.getLong(0); val e = r.getSeq[Double](1)
      val (qv, s) = rows(id)
      e.zip(qv).foreach { case (x, qi) => assert(math.abs(x - qi * s) <= s / 2 + 1e-12) }
    }
    // quantized cosine within 2% of exact for non-zero pairs
    val cos = q.where($"vec_id" === 1).crossJoin(
        q.where($"vec_id" === 2).select($"q_vec".as("qb"), $"q_scale".as("sb"),
          $"embedding".as("eb")))
      .select(
        Similarity.quantizedCosine($"q_vec", $"q_scale", $"qb", $"sb").as("qc"),
        Similarity.cosine($"embedding", $"eb").as("ec"))
      .head()
    assert(math.abs(cos.getDouble(0) - cos.getDouble(1)) < 0.02)
  }

  test("dedup pipelines leave no CacheManager entries behind") {
    spark.sharedState.cacheManager.clearCache()
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", blockCols = Seq("lang")).count()
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", k = 16, bands = 4, threshold = 0.25)
    Dedup.dropPairedDuplicates(docs, "doc_id", pairs).count()
    // localCheckpoint blocks die with their DataFrames; nothing may be
    // registered in the session-lifetime cache manager
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("ANN top-k is two-stage: salted local rank before the per-query window") {
    val vecs = (0L until 40L).map { i =>
      (i, Array(math.sin(i * 1.7), math.cos(i * 0.9), math.sin(i * 0.3) + 1.0))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where($"vec_id" < 2)
    val topk = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 5)
    // plan: two Window nodes, the first partitioned by the salt
    val plan = topk.queryExecution.executedPlan.toString
    assert(plan.contains("_salt"), "expected the salted local-rank stage in the plan")
    assert("(?s)Window.*Window".r.findFirstIn(plan).isDefined, "expected two window stages")
    // row identity vs the naive single-window formulation
    import org.apache.spark.sql.expressions.Window
    val c = vecs.select($"vec_id".as("nn_id"), $"embedding".as("nn_vec"),
      Similarity.norm($"embedding").as("nn_norm"))
    val q = queries.select($"vec_id".as("query_id"), $"embedding".as("q_vec"),
      Similarity.norm($"embedding").as("q_norm"))
    val naive = c.crossJoin(broadcast(q)).where($"nn_id" =!= $"query_id")
      .withColumn("cosine", Similarity.dot($"q_vec", $"nn_vec") / ($"q_norm" * $"nn_norm"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy(desc("cosine"), $"nn_id")))
      .where($"rank" <= 5).select("query_id", "rank", "nn_id", "cosine")
    assert(topk.collect().toSet == naive.collect().toSet)
  }

  test("dropPairedDuplicates broadcasts the drop set into the anti join") {
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    // non-local input: over driver-held rows the whole plan folds on the driver
    val dropped = Dedup.dropPairedDuplicates(docs.localCheckpoint(), "doc_id", pairs)
    val plan = dropped.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"))
    assert(dropped.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L, 4L, 5L, 6L, 7L))
  }

  test("saltedEquiJoin rejects join types that would replicate unmatched rows") {
    val big = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val small = Seq((1L, "x"), (9L, "y")).toDF("k", "w")
    intercept[IllegalArgumentException] {
      Salting.saltedEquiJoin(big, small, Seq("k"), factor = 4, joinType = "right")
    }
    intercept[IllegalArgumentException] {
      Salting.saltedEquiJoin(big, small, Seq("k"), factor = 4, joinType = "full_outer")
    }
  }

  test("repetitionStats computes known duplicate fractions") {
    val d = Seq(
      (1L, "a a b"),              // 3 toks, 2 distinct; 2-grams "a a","a b" distinct; top a=2/3
      (2L, "go go go go"),        // 4 toks 1 distinct; 2-grams all "go go" → 2/3 dup; 3-grams 1/2 dup
      (3L, ""),                   // empty → all zeros
      (4L, "x y")                 // no 3-grams → dup_3gram_frac 0
    ).toDF("doc_id", "text")
    val r = d.select($"doc_id", TextAnalysis.repetitionStats($"text").as("r"))
      .select($"doc_id", $"r.n_tokens", $"r.dup_word_frac", $"r.dup_2gram_frac",
        $"r.dup_3gram_frac", $"r.top_word_frac")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 3 && math.abs(r(1L).getDouble(2) - 1.0 / 3) < 1e-15)
    assert(r(1L).getDouble(3) == 0.0 && math.abs(r(1L).getDouble(5) - 2.0 / 3) < 1e-15)
    assert(math.abs(r(2L).getDouble(2) - 0.75) < 1e-15)       // 4 toks, 1 distinct
    assert(math.abs(r(2L).getDouble(3) - 2.0 / 3) < 1e-15)    // 3 2-grams, 1 distinct
    assert(math.abs(r(2L).getDouble(4) - 0.5) < 1e-15)        // 2 3-grams, 1 distinct
    assert(r(2L).getDouble(5) == 1.0)
    assert(r(3L).getLong(1) == 0 && r(3L).getDouble(2) == 0.0 && r(3L).getDouble(5) == 0.0)
    assert(r(4L).getDouble(4) == 0.0)
  }

  test("decontaminate flags shared n-grams against the bench set and drop removes them") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over fences"), // shares "the quick brown","quick brown fox" w/ bench
      (2L, "an entirely unrelated sentence here"),
      (3L, "short text")                             // < 3 toks → whole-text gram, no match
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox is a benchmark")).toDF("doc_id", "text")
    val flagged = Decontaminate.overlap(corpus, bench, "doc_id", "text", n = 3)
      .select($"doc_id", $"n_hits", $"contaminated").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(flagged(1L)._1 == 2 && flagged(1L)._2)
    assert(flagged(2L) == ((0L, false)) && flagged(3L) == ((0L, false)))
    val kept = Decontaminate.drop(corpus, bench, "doc_id", "text", n = 3)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    assert(kept.columns.toSeq == corpus.columns.toSeq) // apply step restores the schema
    // both joins stay equi (broadcast or shuffle hash) — no nested-loop fallback
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("bloom decontamination is exactly overlap, even under a forced-high fpp") {
    graft.core.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val docs = spark.table("documents")
    val corpus = docs.where($"source" =!= "src0")
    val bench = docs.where($"source" === "src0")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"n_hits", $"contaminated")
        .collect().map(_.toSeq).toSet
    val exact = rows(Decontaminate.overlap(corpus, bench, "doc_id", "text", n = 3))
    // a well-sized filter and a grossly undersized one (≈saturated →
    // near-every gram a candidate) must BOTH reproduce overlap bit-
    // for-bit: the exact join kills every false positive
    for ((items, fpp) <- Seq((1L << 20, 0.03), (2L, 0.5))) {
      val got = rows(Decontaminate.overlapBloom(corpus, bench, "doc_id", "text",
        n = 3, minHits = 1, expectedGrams = items, fpp = fpp))
      assert(got == exact && got.exists(_(2) == true))
    }
    // empty benchmark → nothing flagged, schema intact
    val none = Decontaminate.overlapBloom(corpus, bench.where(lit(false)),
      "doc_id", "text", n = 3)
    assert(none.where($"contaminated").count() == 0)
    // degenerate minHits <= 0: overlap flags EVERY doc (0 >= 0), and
    // the bloom arm's empty-benchmark early return must agree — the
    // "output is EXACTLY overlap's" contract has no carve-outs
    for (mh <- Seq(0, -1)) {
      val emptyBench = bench.where(lit(false))
      val o = rows(Decontaminate.overlap(corpus, emptyBench, "doc_id", "text",
        n = 3, minHits = mh))
      val b = rows(Decontaminate.overlapBloom(corpus, emptyBench, "doc_id", "text",
        n = 3, minHits = mh))
      assert(b == o && b.forall(_(2) == true), s"minHits=$mh")
    }
    assert(rows(Decontaminate.dropBloom(corpus, bench, "doc_id", "text", n = 3)
        .withColumn("n_hits", lit(0L)).withColumn("contaminated", lit(false))) ==
      rows(Decontaminate.drop(corpus, bench, "doc_id", "text", n = 3)
        .withColumn("n_hits", lit(0L)).withColumn("contaminated", lit(false))))
  }

  test("capPerKey keeps the N smallest hashes per key, identical to a single window") {
    import org.apache.spark.sql.expressions.Window
    val rows = (0L until 200L).map(i => (i, s"k${i % 3}")).toDF("id", "k")
    for (buckets <- Seq(1, 4, 16)) {
      val capped = Sampling.capPerKey(rows, "k", "id", maxPerKey = 5, saltBuckets = buckets)
      val naive = rows.withColumn("_rn", row_number().over(
          Window.partitionBy($"k").orderBy(Sampling.hashKey($"id"), $"id")))
        .where($"_rn" <= 5).drop("_rn")
      assert(capped.collect().toSet == naive.collect().toSet, s"buckets=$buckets")
    }
    // per-key counts respect the cap; a key with fewer rows keeps them all
    val small = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "k")
    val kept = Sampling.capPerKey(small, "k", "id", maxPerKey = 2)
      .groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept == Map("a" -> 2L, "b" -> 1L))
  }

  test("assignClusters labels every row with its argmax-cosine centroid, ties to larger id") {
    val cents = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0))).toDF("cent_id", "centroid")
    val vecs = Seq(
      (10L, Array(0.9f, 0.1f)),  // → cent 0
      (11L, Array(0.1f, 0.9f)),  // → cent 1
      (12L, Array(0.5f, 0.5f))   // exact tie → larger cent_id 1
    ).toDF("vec_id", "embedding")
    val got = Similarity.assignClusters(vecs, "embedding", cents)
      .select("vec_id", "cent_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 0L, 11L -> 1L, 12L -> 1L))
  }

  test("semDedupDrop drops within-cluster near-dups, keeps cross-cluster ones") {
    val cents = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0))).toDF("cent_id", "centroid")
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),    // cluster 0
      (2L, Array(0.99f, 0.01f)),  // cluster 0, near-dup of 1 → dropped
      (3L, Array(0.0f, 1.0f)),    // cluster 1
      (4L, Array(0.6f, 0.8f))     // cluster 1, cosine(3,4)=0.8 < 0.95 → kept
    ).toDF("vec_id", "embedding")
    val kept = Dedup.semDedupDrop(vecs, "vec_id", "embedding", cents, threshold = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L))
    // a near-identical pair split across clusters is NOT dropped (documented trade)
    val split = Seq(
      (1L, Array(0.72f, 0.70f)),  // lands cluster 0 (x-heavy)
      (2L, Array(0.70f, 0.72f))   // near-identical (cos ≈ 0.9996) but lands cluster 1
    ).toDF("vec_id", "embedding")
    val keptSplit = Dedup.semDedupDrop(split, "vec_id", "embedding", cents, threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptSplit == Set(1L, 2L))
  }

  test("trainIvfCentroids handles k = 1") {
    val vecs = (0L until 10L).map(i => (i, Array(i.toDouble, 1.0))).toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroids(vecs, "vec_id", "embedding", k = 1, iters = 2)
    val rows = cents.collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 0L)
    // the single centroid converges to the global per-dimension mean
    val c = rows.head.getSeq[Double](1)
    assert(math.abs(c(0) - 4.5) < 1e-9 && math.abs(c(1) - 1.0) < 1e-9)
  }

  test("BPE trainer: hand-checked merges, greedy overlap, encode round-trip") {
    // "abab" x3 + "ab" x2: pair (a,b) count = 3*2+2 = 8 wins round 1;
    // round 2: (ab,ab) count 3 vs (b,a) 3 — lexicographic tiebreak
    // picks (ab,ab)
    val d = Seq((1L, "abab abab abab ab ab")).toDF("doc_id", "text")
    val m = Bpe.trainMerges(d, "text", numMerges = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(m.toSeq == Seq((0L, "a", "b", "ab", 8L), (1L, "ab", "ab", "abab", 3L)))
    // greedy leftmost non-overlap: "aaa" under merge (a,a) -> [aa, a]
    val d2 = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val m2 = Bpe.trainMerges(d2, "text", numMerges = 1).collect()
    assert(m2.length == 1 && m2.head.getString(3) == "aa" && m2.head.getLong(4) == 4L)
    val enc = d2.select(Bpe.encodeSubwords(col("text"),
      Seq(("a", "a"))).as("s")).head.getSeq[String](0)
    assert(enc == Seq("aa", "a", "aa", "a"))
    // encode concatenation always reproduces the tokenized text
    val docs3 = Seq((1L, "the quick brown fox"), (2L, "lazy dogs lie")).toDF("doc_id", "text")
    val ms = Bpe.trainMerges(docs3, "text", numMerges = 4).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val rt = docs3.select(col("text"),
      concat_ws("", Bpe.encodeSubwords(col("text"), ms)).as("glued"))
      .collect()
    rt.foreach { r =>
      assert(r.getString(1) == r.getString(0).toLowerCase.replaceAll("[^a-z0-9]+", ""))
    }
    // early stop: minPairCount unreachable -> fewer rows, no error
    val few = Bpe.trainMerges(docs3, "text", numMerges = 50).count()
    assert(few < 50)
    // the diagnostic round counter (tools/BpeBench's agg_rounds field):
    // at least one aggregate round ran, at most merges + the final
    // pair-exhaustion probe (batching commits >=1 merge per round)
    val rounds = Bpe.lastTrainRounds.get()
    assert(rounds >= 1 && rounds <= few + 1,
      s"rounds=$rounds not in [1, ${few + 1}]")
  }

  test("BPE sample-bounded training: a cap covering the vocabulary is exact; a tight cap trains on the head") {
    val d = Seq(
      (1L, "abab abab abab ab ab rare1"),
      (2L, "abab ab zz zz zz rare2")
    ).toDF("doc_id", "text")
    def merges(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    // maxWords >= |vocab| (6 distinct words) -> identical to the full train
    assert(merges(Bpe.trainMergesSampled(d, "text", numMerges = 3, maxWords = 16)) ==
      merges(Bpe.trainMerges(d, "text", numMerges = 3)))
    // a 2-word cap keeps the most frequent words only (abab x4, ab x3):
    // "zz" (freq 3, after "ab" on the word tiebreak) and the rare words
    // can no longer contribute pairs — (z,z) disappears, (a,b)/(ab,ab)
    // counts now exclude nothing they need
    val head = merges(Bpe.trainMergesSampled(d, "text", numMerges = 10, maxWords = 2))
    assert(head.map(m => (m._2, m._3)) == Seq("a" -> "b", "ab" -> "ab"),
      s"got $head")
  }

  test("token-budget sampling: hash-order fill, >= 1 row per key, window-equivalent") {
    import org.apache.spark.sql.expressions.Window
    val d = (1L to 60L).map(i => (i, s"s${i % 3}", 10L + i % 7))
      .toDF("doc_id", "key", "n")
    val got = Sampling.sampleTokenBudget(d, "doc_id", "n", budget = 50L,
        keyCols = Seq("key")).select("doc_id").collect().map(_.getLong(0)).toSet
    // reference: plain single-window running sum in hash order
    val w = Window.partitionBy("key")
      .orderBy(Sampling.hashKey(col("doc_id")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = d.withColumn("cumb", coalesce(sum("n").over(w), lit(0L)))
      .where(col("cumb") < 50L).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
    // a budget smaller than any doc still keeps one doc per key
    val tiny = Sampling.sampleTokenBudget(d, "doc_id", "n", budget = 1L,
      keyCols = Seq("key")).groupBy("key").count().collect()
    assert(tiny.length == 3 && tiny.forall(_.getLong(1) == 1L))
  }

  test("sequence packing: placements match the sequential fold") {
    val d = Seq((1L, 100L), (2L, 600L), (3L, 0L), (4L, 512L), (5L, 1L))
      .toDF("doc_id", "n")
    val got = Sampling.packSequences(d, "doc_id", "n", seqLen = 512)
      .orderBy(Sampling.hashKey(col("doc_id")), col("doc_id"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n"),
        r.getAs[Long]("seq_id"), r.getAs[Long]("seq_offset"), r.getAs[Long]("n_seqs")))
    // sequential reference: concat in the same hash order, cut at 512
    var cum = 0L
    got.foreach { case (_, n, seqId, off, nSeqs) =>
      assert(seqId == cum / 512 && off == cum % 512)
      if (n <= 0) assert(nSeqs == 0L)
      else assert(nSeqs == (cum + n - 1) / 512 - cum / 512 + 1)
      cum += n
    }
    assert(cum == 1213L) // every token placed exactly once
  }

  test("duplicate spans: overlapping cross-doc grams merge to one maximal span") {
    // docs 1 and 2 share tokens 2..7 ("c d e f g h"): with n=3 the
    // duplicated gram starts are 2,3,4,5 in doc 1 — overlapping marks
    // that must merge into ONE span [2, 7]
    val d = Seq(
      (1L, "a b c d e f g h x y z"),
      (2L, "p q c d e f g h r s t"),
      (3L, "completely unrelated words only here none shared")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, "doc_id", "text", n = 3)
      .orderBy("doc_id", "span_start").collect()
    assert(spans.map(_.getLong(0)).toSet == Set(1L, 2L))
    val s1 = spans.find(_.getLong(0) == 1L).get
    assert(s1.getAs[Long]("span_start") == 2L && s1.getAs[Long]("span_end") == 7L &&
      s1.getAs[Long]("span_tokens") == 6L)
  }

  test("duplicate spans: within-doc repeats only count when crossDocOnly=false") {
    val d = Seq(
      (1L, "u v w u v w unique tail words here"),
      (2L, "totally different content in this row")
    ).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(d, "doc_id", "text", n = 3).count() == 0)
    val within = Dedup.duplicateSpans(d, "doc_id", "text", n = 3, crossDocOnly = false)
      .collect()
    // "u v w" occurs at 0 and 3 → marks cover [0,2] and [3,5], adjacent → merged
    assert(within.length == 1 && within.head.getAs[Long]("span_start") == 0L &&
      within.head.getAs[Long]("span_end") == 5L)
  }

  test("remove duplicate spans: cuts the span, preserves the row set") {
    val d = Seq(
      (1L, "a b c d e f g h x y z"),
      (2L, "p q c d e f g h r s t"),
      (3L, "short doc"),
      (4L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(d, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    assert(out.length == 4) // annotate/apply keeps every input row
    assert(out(0).getAs[String]("clean_text") == "a b x y z" &&
      out(0).getAs[Long]("n_removed") == 6L)
    assert(out(1).getAs[String]("clean_text") == "p q r s t")
    // unaffected docs pass through token-normalized, nothing removed
    assert(out(2).getAs[String]("clean_text") == "short doc" &&
      out(2).getAs[Long]("n_removed") == 0L)
    assert(out(3).getAs[String]("clean_text") == "" &&
      out(3).getAs[Long]("n_kept") == 0L)
  }

  test("line dedup: the boilerplate header is cut everywhere but the min doc; blanks and owned repeats survive") {
    val d = Seq(
      (1L, "SITE NAV HOME\nunique first body\nSITE NAV HOME"), // owns the header (min doc) — both occurrences stay
      (2L, "SITE NAV HOME\n\nunique second body"), // header cut, blank line survives
      (3L, "intro line\nSITE NAV HOME\nunique third body"), // header cut mid-document
      (4L, "   \nwhitespace flanked content\n   ") // whitespace-only lines never participate
    ).toDF("doc_id", "text")
    val dup = Dedup.duplicateLines(d, "doc_id", "text").collect()
    assert(dup.length == 1)
    assert(dup.head.getAs[String]("line") == "SITE NAV HOME" &&
      dup.head.getAs[Long]("n_docs") == 3L &&
      dup.head.getAs[Long]("n_occurrences") == 4L &&
      dup.head.getAs[Long]("min_doc") == 1L)
    val out = Dedup.removeDuplicateLines(d, "doc_id", "text").orderBy("doc_id").collect()
    assert(out.length == 4) // apply keeps every input row
    assert(out(0).getAs[String]("clean_text") == "SITE NAV HOME\nunique first body\nSITE NAV HOME" &&
      out(0).getAs[Long]("n_lines_removed") == 0L)
    assert(out(1).getAs[String]("clean_text") == "\nunique second body" &&
      out(1).getAs[Long]("n_lines_kept") == 2L &&
      out(1).getAs[Long]("n_lines_removed") == 1L)
    assert(out(2).getAs[String]("clean_text") == "intro line\nunique third body")
    assert(out(3).getAs[String]("clean_text") == "   \nwhitespace flanked content\n   " &&
      out(3).getAs[Long]("n_lines_removed") == 0L)
  }

  test("incremental line dedup equals the batch rule restricted to the increment; retries are verdict-stable") {
    val header = "COMMON SITE HEADER"
    val all = Seq(
      (1L, s"$header\nold one body"),
      (2L, s"old two body\nold two tail"),
      (3L, s"$header\ninc three body"), // header owned by doc 1 → cut
      (4L, s"$header\nshared inc line\ninc four body"), // header cut; owns "shared inc line"
      (5L, s"shared inc line\ninc five body") // within-increment dup → cut
    ).toDF("doc_id", "text")
    val batch = Dedup.removeDuplicateLines(all, "doc_id", "text")
      .where($"doc_id" > 2L).orderBy("doc_id").collect()

    val path = graft.TempDir("graft_line_idx").toString
    Dedup.writeLineIndex(all.where($"doc_id" <= 2L), "doc_id", "text", path)
    val inc = all.where($"doc_id" > 2L)
    def run() = Dedup.removeDuplicateLinesIncrement(inc, "doc_id", "text", path,
      commitTag = Some("7")).orderBy("doc_id").collect()
    val first = run()
    assert(first.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq,
      "increment ∘ index must equal the full-batch rule on increment docs")
    assert(first(0).getAs[String]("clean_text") == "inc three body")
    assert(first(1).getAs[String]("clean_text") == "shared inc line\ninc four body")
    assert(first(2).getAs[String]("clean_text") == "inc five body")
    // tagged retry: the append skips, the verdicts are identical
    assert(run().map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
    // untagged retry (the index now carries the shard's own lines):
    // min_doc presence-test keeps verdicts identical — the shard's own
    // appended rows only cut what the within rule already cut
    val retry = Dedup.removeDuplicateLinesIncrement(inc, "doc_id", "text", path,
      appendLines = false).orderBy("doc_id").collect()
    assert(retry.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
  }

  test("adversarial nav-shell doc: 10k duplicated lines cut in one row without quadratic membership") {
    // doc 2 is pure boilerplate: every one of its 10k lines is owned
    // by doc 1, so the cut array and the line array are BOTH 10k long
    // — the shape where per-line array_contains membership was O(L·C)
    // = 10⁸ comparisons in a single row. The ordered set-difference
    // cut is O(L + C); wall for this test is milliseconds, and the
    // interleaved doc 3 pins order preservation of the kept subset.
    val n = 10000
    val shell = (0 until n).map(i => s"nav item ${i % 997}").mkString("\n")
    val d = Seq(
      (1L, shell), // owns every line
      (2L, shell), // fully cut
      (3L, (0 until 50).map(i =>
        if (i % 2 == 0) s"nav item ${i % 997}" else s"unique3 line $i").mkString("\n"))
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateLines(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_lines_removed") == 0L)
    assert(out(1).getAs[String]("clean_text") == "" &&
      out(1).getAs[Long]("n_lines_kept") == 0L &&
      out(1).getAs[Long]("n_lines_removed") == n.toLong)
    // kept lines stay in document order after the positional cut
    assert(out(2).getAs[String]("clean_text") ==
      (0 until 50).filter(_ % 2 == 1).map(i => s"unique3 line $i").mkString("\n"))
    assert(out(2).getAs[Long]("n_lines_removed") == 25L)
  }

  test("passage chunking: stride windows, shortened tail, zero-token drop") {
    val text = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val d = Seq((1L, text), (2L, "one two"), (3L, "!!!")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkPassages(d, "doc_id", "text", chunkSize = 4, stride = 3)
      .orderBy("doc_id", "chunk_id").collect()
    val c1 = out.filter(_.getLong(0) == 1L)
    // starts 0,3,6,9 → windows of 4,4,4,1 tokens
    assert(c1.map(_.getAs[Long]("chunk_id")).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(c1.map(_.getAs[Long]("n_tokens")).toSeq == Seq(4L, 4L, 4L, 1L))
    assert(c1(1).getAs[String]("chunk_text") == "w4 w5 w6 w7")
    // a doc shorter than the window emits exactly one chunk
    val c2 = out.filter(_.getLong(0) == 2L)
    assert(c2.length == 1 && c2.head.getAs[String]("chunk_text") == "one two")
    // no tokens → no chunks
    assert(!out.exists(_.getLong(0) == 3L))
  }

  test("logistic-regression classifier: separates a toy corpus, bounded driver state") {
    // two cleanly separable vocabularies; label = "wiki-like" source
    val d = Seq(
      (1L, "alpha beta gamma alpha beta", "wiki"),
      (2L, "beta gamma alpha gamma", "wiki"),
      (3L, "alpha gamma beta beta", "wiki"),
      (4L, "zork quux blarg zork", "web"),
      (5L, "quux blarg zork blarg", "web"),
      (6L, "blarg zork quux quux", "web"),
      (7L, "", "web") // zero tokens → excluded from training and scoring
    ).toDF("doc_id", "text", "source")
    val db = Classifier.featurize(d, "doc_id", "text", $"source" === "wiki", dims = 64)
    assert(!db.columns.contains("text")) // class table carries no bodies
    val (w, bias) = Classifier.trainWeights(db, dims = 64, steps = 8, lr = 5.0)
    val scored = Classifier.score(db, w, bias).collect()
    assert(scored.length == 6) // doc 7 excluded
    scored.foreach { r =>
      val wiki = r.getAs[Double]("label") == 1.0
      val prob = r.getAs[Double]("prob")
      assert(if (wiki) prob > 0.5 else prob < 0.5,
        s"doc ${r.getLong(0)} prob=$prob wiki=$wiki")
      assert(r.getAs[Boolean]("pred") == wiki)
    }
    // weights table: only present buckets + the bias row
    val wdf = Classifier.weightsDF(spark, db, w, bias).collect()
    assert(wdf.exists(_.getLong(0) == -1L))
    assert(wdf.length <= 64 + 1)
  }

  test("classifier trainer fold: gradient-collect bucket set IS distinct b, " +
    "weights table identical either way") {
    val d = Seq(
      (1L, "alpha beta gamma alpha beta", "wiki"),
      (2L, "beta gamma alpha gamma", "wiki"),
      (3L, "zork quux blarg zork", "web"),
      (4L, "quux blarg zork blarg", "web")
    ).toDF("doc_id", "text", "source")
    val db = Classifier.featurize(d, "doc_id", "text", $"source" === "wiki", dims = 64)
    val (w, bias, present) = Classifier.trainWeightsWithBuckets(db, 64, steps = 3, lr = 5.0)
    // the r15 fold's free bucket set equals the standalone distinct job's
    val distinctB = db.select("b").distinct().collect().map(_.getLong(0)).sorted
    assert(present.toSeq == distinctB.toSeq)
    // and the weights table is byte-identical through either path
    val viaPresent = Classifier.weightsDF(spark, db, w, bias, Some(present))
      .orderBy("feature").collect().toSeq
    val viaDistinct = Classifier.weightsDF(spark, db, w, bias, None)
      .orderBy("feature").collect().toSeq
    assert(viaPresent == viaDistinct)
    // the delegating pair returns the same trajectory
    val (w2, bias2) = Classifier.trainWeights(db, 64, steps = 3, lr = 5.0)
    assert(w.toSeq == w2.toSeq && bias == bias2)
  }

  test("pinned-table increments equal the internal-hash path (spans/lines/minhash)") {
    // the r15 overlap hook: a caller materializes the increment's
    // gram/line/signature table concurrently with the index build and
    // passes it in — verdicts must be identical to the internal path
    val old = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa\nNAV BAR LINE"),
      (2L, "one two three four five six seven eight nine ten\nNAV BAR LINE")
    ).toDF("doc_id", "text")
    val inc = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa\nNAV BAR LINE"),
      (11L, "fresh words only here nothing shared at all today now\nNAV BAR LINE"),
      (12L, "fresh words only here nothing shared at all today now\nunique tail")
    ).toDF("doc_id", "text")
    def cmp(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit =
      assert(a.collect().map(_.toString).sorted.toSeq ==
        b.collect().map(_.toString).sorted.toSeq)
    // spans
    val sp1 = graft.TempDir("sp1").toString
    val sp2 = graft.TempDir("sp2").toString
    Dedup.writeSpanGramIndex(old, "doc_id", "text", sp1, n = 5)
    Dedup.writeSpanGramIndex(old, "doc_id", "text", sp2, n = 5)
    cmp(
      Dedup.removeDuplicateSpansIncrement(inc, "doc_id", "text", sp1, n = 5),
      Dedup.removeDuplicateSpansIncrement(inc, "doc_id", "text", sp2, n = 5,
        pinnedGrams = Some(Dedup.pinnedSpanGrams(inc, "doc_id", "text", n = 5))))
    // lines
    val ln1 = graft.TempDir("ln1").toString
    val ln2 = graft.TempDir("ln2").toString
    Dedup.writeLineIndex(old, "doc_id", "text", ln1)
    Dedup.writeLineIndex(old, "doc_id", "text", ln2)
    cmp(
      Dedup.removeDuplicateLinesIncrement(inc, "doc_id", "text", ln1),
      Dedup.removeDuplicateLinesIncrement(inc, "doc_id", "text", ln2,
        pinnedLines = Some(Dedup.pinnedLineRows(inc, "doc_id", "text"))))
    // minhash
    val mh1 = graft.TempDir("mh1").toString
    val mh2 = graft.TempDir("mh2").toString
    Dedup.writeMinhashIndex(old, "doc_id", "text", mh1, k = 16, n = 3)
    Dedup.writeMinhashIndex(old, "doc_id", "text", mh2, k = 16, n = 3)
    cmp(
      Dedup.dedupIncrement(inc, "doc_id", "text", mh1, k = 16, bands = 4,
        n = 3, threshold = 0.25),
      Dedup.dedupIncrement(inc, "doc_id", "text", mh2, k = 16, bands = 4,
        n = 3, threshold = 0.25,
        pinnedSigs = Some(Dedup.pinnedMinhashSignatures(inc, "doc_id", "text",
          k = 16, n = 3))))
  }

  test("pinned-index probes equal the read-back path (spans/lines/minhash)") {
    // the r16 build-then-probe hook: the corpus-side index rows pin
    // once, the append writes FROM the pin, and the increment probes
    // the pin instead of re-reading the just-written files — verdicts
    // must equal the read-back path exactly, for every family
    val old = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa\nNAV BAR LINE"),
      (2L, "one two three four five six seven eight nine ten\nNAV BAR LINE")
    ).toDF("doc_id", "text")
    val inc = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa\nNAV BAR LINE"),
      (11L, "fresh words only here nothing shared at all today now\nNAV BAR LINE"),
      (12L, "fresh words only here nothing shared at all today now\nunique tail")
    ).toDF("doc_id", "text")
    def cmp(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit =
      assert(a.collect().map(_.toString).sorted.toSeq ==
        b.collect().map(_.toString).sorted.toSeq)
    // spans: IncrementalIndex.build must leave the same on-disk index
    // AND the pinned probe the same verdicts
    val sp1 = graft.TempDir("sp1p").toString
    val sp2 = graft.TempDir("sp2p").toString
    Dedup.writeSpanGramIndex(old, "doc_id", "text", sp1, n = 5)
    val spRows = IncrementalIndex.Span.build(
      IncrementalIndex.Span.rows(Dedup.spanGrams(old, "doc_id", "text", 5)), sp2)
    cmp(IncrementalIndex.Span.read(spark, sp1), IncrementalIndex.Span.read(spark, sp2))
    cmp(
      Dedup.removeDuplicateSpansIncrement(inc, "doc_id", "text", sp1, n = 5),
      Dedup.removeDuplicateSpansIncrement(inc, "doc_id", "text", sp2, n = 5,
        pinnedIndex = Some(spRows)))
    // lines
    val ln1 = graft.TempDir("ln1p").toString
    val ln2 = graft.TempDir("ln2p").toString
    Dedup.writeLineIndex(old, "doc_id", "text", ln1)
    val lnRows = IncrementalIndex.Line.build(
      IncrementalIndex.Line.rows(Dedup.lineRows(old, "doc_id", "text")), ln2)
    cmp(IncrementalIndex.Line.read(spark, ln1), IncrementalIndex.Line.read(spark, ln2))
    cmp(
      Dedup.removeDuplicateLinesIncrement(inc, "doc_id", "text", ln1),
      Dedup.removeDuplicateLinesIncrement(inc, "doc_id", "text", ln2,
        pinnedIndex = Some(lnRows)))
    // minhash: the pinned wide signature table serves both the
    // corpus's own pair scan and the increment's banded probe
    val mh1 = graft.TempDir("mh1p").toString
    val mh2 = graft.TempDir("mh2p").toString
    Dedup.writeMinhashIndex(old, "doc_id", "text", mh1, k = 16, n = 3)
    val mhSigs = IncrementalIndex.Minhash.build(
      Dedup.minhashSignaturesWide(old, "doc_id", "text", k = 16, n = 3), mh2)
    cmp(IncrementalIndex.Minhash.read(spark, mh1), IncrementalIndex.Minhash.read(spark, mh2))
    cmp(
      Dedup.minhashLshPairsFromSigs(IncrementalIndex.Minhash.read(spark, mh1),
        k = 16, bands = 4, threshold = 0.25),
      Dedup.minhashLshPairsFromSigs(mhSigs, k = 16, bands = 4, threshold = 0.25))
    cmp(
      Dedup.dedupIncrement(inc, "doc_id", "text", mh1, k = 16, bands = 4,
        n = 3, threshold = 0.25),
      Dedup.dedupIncrement(inc, "doc_id", "text", mh2, k = 16, bands = 4,
        n = 3, threshold = 0.25, pinnedIndex = Some(mhSigs)))
  }

  test("gopher filter: each rule rejects its planted violation, good doc passes") {
    val goodWords = (Seq("the", "of", "and") ++
      (1 to 60).map(i => s"word$i")).mkString(" ") // 63 tokens, stopwords, varied
    val d = Seq(
      (1L, goodWords),                                  // passes everything
      (2L, "the of tiny doc"),                          // r_length (4 tokens)
      (3L, ("the of " + "77 88 99 " * 20).trim),        // r_alpha (62 numeric tokens)
      (4L, ("the of " + "ab cd " * 35).trim),           // r_rep (dup 2-grams)
      (5L, (1 to 60).map(i => s"w$i").mkString(" ")),   // r_stop (no stopwords)
      (6L, "")                                          // zero tokens
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilter(d, "text", minTokens = 50)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    assert(!out(2L).getAs[Boolean]("r_length") && !out(2L).getAs[Boolean]("keep"))
    assert(!out(3L).getAs[Boolean]("r_alpha") && out(3L).getAs[Boolean]("r_length"))
    assert(!out(4L).getAs[Boolean]("r_rep") && !out(4L).getAs[Boolean]("keep"))
    assert(!out(5L).getAs[Boolean]("r_stop"))
    assert(out(6L).getAs[Long]("n_tokens") == 0L && !out(6L).getAs[Boolean]("keep"))
    // integer-ratio metrics: the good doc's mean word length is exact
    val expectedMean = goodWords.split(" ").map(_.length).sum.toDouble / 63.0
    assert(out(1L).getAs[Double]("mean_word_len") == expectedMean)
  }

  test("novelty: exact copy scores 0, fresh doc scores 1, first doc owns its grams") {
    val d = Seq(
      (1L, "a b c d e"),     // grams first seen here
      (2L, "a b c d e"),     // exact copy → nothing novel
      (3L, "x y z w q"),     // all-new grams
      (4L, "c d e x y z")    // mix: "c d e"/"x y z" seen, middle bridges new
    ).toDF("doc_id", "text")
    val out = TextAnalysis.noveltyScore(d, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Double]("novelty_frac") == 1.0)
    assert(out(2L).getAs[Double]("novelty_frac") == 0.0)
    assert(out(3L).getAs[Double]("novelty_frac") == 1.0)
    val m = out(4L)
    // 4 grams: "c d e" (doc 1's), "x y z" (doc 3's), "d e x", "e x y" novel
    assert(m.getAs[Long]("n_grams") == 4L && m.getAs[Long]("n_novel") == 2L)
    assert(m.getAs[Double]("novelty_frac") == 0.5)
  }

  test("mixture: weights solve the no-upsampling LP, draw realizes the rates") {
    val rows = (1 to 10).map(i => (i.toLong, "A", 10L)) ++        // 100 tokens
      (11 to 13).map(i => (i.toLong, "B", 10L)) ++                // 30
      (14 to 20).map(i => (i.toLong, "C", 10L)) ++                // 70
      Seq((21L, "D", 40L))                                        // untargeted
    val d = rows.toDF("doc_id", "source", "n_tokens")
    val target = Seq("A" -> 0.5, "B" -> 0.25, "C" -> 0.25)
    val w = Sampling.mixtureWeights(d, "source", "n_tokens", target)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    // T = min(100/.5, 30/.25, 70/.25) = 120 — B is the binding source
    assert(w("A").getAs[Double]("mixture_total") == 120.0)
    assert(w("A").getAs[Double]("n_tokens_take") == 60.0)
    assert(w("A").getAs[Double]("rate") == 0.6)
    assert(w("B").getAs[Double]("rate") == 1.0)
    assert(w("C").getAs[Double]("rate") == 30.0 / 70.0)
    assert(w("D").getAs[Double]("rate") == 0.0)
    val drawn = Sampling.mixtureSample(d, "doc_id", "source", "n_tokens", target)
      .collect()
    // rate-1 source kept whole, rate-0 source dropped whole
    assert(drawn.count(_.getAs[String]("source") == "B") == 3)
    assert(!drawn.exists(_.getAs[String]("source") == "D"))
    // deterministic: a re-run draws the identical id set
    val again = Sampling.mixtureSample(d, "doc_id", "source", "n_tokens", target)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(again == drawn.map(_.getAs[Long]("doc_id")).sorted.toSeq)
  }

  test("lsh calibration: buckets start at k/bands, exact dups land in the top bucket") {
    val cal = Dedup.lshCalibration(docs, "doc_id", "text", k = 16, bands = 4)
      .collect().map(r => r.getAs[Int]("est_bucket") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_exact_ge_025"),
          r.getAs[Double]("sum_abs_err")))).toMap
    // a band collision implies >= 4 of 16 matching seeds
    assert(cal.keySet.forall(_ >= 4))
    // docs 1/2 are exact duplicates: est 16/16, exact jaccard 1 → zero error
    assert(cal.contains(16) && cal(16)._1 >= 1L && cal(16)._2 >= 1L)
    // bucket totals cover exactly the candidate set
    val nCand = Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 16, bands = 4, threshold = 0.0).count()
    assert(cal.values.map(_._1).sum == nCand)
    // error mass is bounded: |est - exact| <= 1 per pair
    cal.foreach { case (_, (n, _, errSum)) => assert(errSum >= 0.0 && errSum <= n) }
  }

  test("leakage-safe split: duplicate families move as a unit, singletons keep own hash") {
    val d = (1L to 40L).map(i => (i, s"doc body $i")).toDF("doc_id", "text")
    // two families: {1,2,3} (via a chain) and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val res = Sampling.splitAssignByCluster(d, "doc_id", pairs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[String]("split")))).toMap
    // family members share cluster AND split — no straddling possible
    assert(Seq(1L, 2L, 3L).map(res(_)._1).distinct == Seq(1L))
    assert(Seq(1L, 2L, 3L).map(res(_)._2).distinct.size == 1)
    assert(Seq(10L, 11L).map(res(_)._1).distinct == Seq(10L))
    assert(Seq(10L, 11L).map(res(_)._2).distinct.size == 1)
    // un-paired rows: own id as cluster, split identical to the plain
    // per-id assignment (the leakage-safe form degrades to splitAssign)
    val plain = Sampling.splitAssign(d, "doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    (4L to 9L).foreach { i =>
      assert(res(i)._1 == i && res(i)._2 == plain(i))
    }
  }

  test("curation funnel: one-pass flags match the composed pipeline stage by stage") {
    // 60 tokens: 4 stopwords + 56 unique seed-words — passes every
    // Gopher rule (length, word length, alpha, stopwords, repetition)
    def body(seed: String): String =
      "the a of and" + (1 to 56).map(i => f" ${seed}x$i%02d").mkString
    val corpus = Seq(
      (1L, body("alpha")),
      (2L, body("alpha")),                  // exact dup of 1
      (3L, body("charlie")),
      (4L, "tiny"),                         // fails gopher length rule
      (5L, body("echo")),                   // will be contaminated
      (6L, body("golf"))
    ).toDF("doc_id", "text")
    val bench = Seq((100L, body("echo"))).toDF("doc_id", "text")

    val f = TextAnalysis.curationFunnel(corpus, bench).collect()(0)
    def g(c: String): Long = f.getAs[Long](c)
    // monotone survival
    assert(g("n_input") >= g("n_quality") && g("n_quality") >= g("n_dedup")
      && g("n_dedup") >= g("n_clean"))
    // recompute with the real pipeline stages
    val kept = TextAnalysis.gopherFilter(corpus, "text").where(col("keep"))
      .select("doc_id", "text")
    val deduped = Dedup.dropExactDuplicates(kept, "doc_id", "text")
    val clean = Decontaminate.drop(deduped, bench, "doc_id", "text", n = 3, minHits = 4)
    assert(g("n_input") == 6L)
    assert(g("n_quality") == kept.count())
    assert(g("n_dedup") == deduped.count())
    assert(g("n_clean") == clean.count())
    // token counters track the same stages
    def toks(df: org.apache.spark.sql.DataFrame): Long =
      df.select(sum(TextAnalysis.tokenCount(col("text")))).collect()(0).getLong(0)
    assert(g("tokens_input") == toks(corpus))
    assert(g("tokens_quality") == toks(kept))
    assert(g("tokens_dedup") == toks(deduped))
    assert(g("tokens_clean") == toks(clean))
    // the planted failures actually exercised each stage
    assert(g("n_quality") == 5L) // doc 4 failed quality
    assert(g("n_dedup") == 4L)   // doc 2 was the exact dup
    assert(g("n_clean") == 3L)   // doc 5 was contaminated

    // per-source form partitions the same flags: rows sum to the global
    val bySrc = TextAnalysis.curationFunnelBy(
      corpus.withColumn("source", when(col("doc_id") <= 3L, "sA").otherwise("sB")),
      bench, "source").collect()
    assert(bySrc.length == 2)
    Seq("n_input", "tokens_input", "n_quality", "n_dedup", "n_clean").foreach { c =>
      assert(bySrc.map(_.getAs[Long](c)).sum == g(c), s"column $c")
    }
    // the exact-dup loss lands in the source that held the dup (doc 2 ∈ sA)
    val sA = bySrc.find(_.getAs[String]("source") == "sA").get
    assert(sA.getAs[Long]("n_quality") - sA.getAs[Long]("n_dedup") == 1L)
  }

  test("mixture temperature: alpha=0.5 flattens toward the tail source") {
    val d = Seq((1L, "A", 100L), (2L, "B", 400L)).toDF("doc_id", "source", "n_tokens")
    val out = Sampling.mixtureTemperature(d, "source", "n_tokens",
        alpha = 0.5, totalTokens = 300L)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    // p = (0.2, 0.8); avail^0.5 = (10, 20) → q = (1/3, 2/3)
    assert(out("A").getAs[Double]("p_raw") == 0.2)
    assert(out("A").getAs[Double]("q_temp") == 0.333333)
    assert(out("B").getAs[Double]("q_temp") == 0.666667)
    // takes 100/200 of the 300 budget; A is fully consumed (rate 1)
    assert(out("A").getAs[Double]("n_tokens_take") == 100.0)
    assert(out("A").getAs[Double]("rate") == 1.0)
    assert(out("B").getAs[Double]("rate") == 0.5)
    // alpha=1 degenerates to proportional sampling
    val prop = Sampling.mixtureTemperature(d, "source", "n_tokens", 1.0, 300L)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(prop("B").getAs[Double]("q_temp") == prop("B").getAs[Double]("p_raw"))
  }

  test("canonical by score keeps the best-scored row per cluster") {
    val d = Seq((1L, 10L), (2L, 30L), (3L, 20L), (5L, 7L))
      .toDF("doc_id", "n_tokens")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.canonicalByScore(d, "doc_id", "n_tokens", pairs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // cluster {1,2,3}: doc 2 has the top score → canonical for all three
    Seq(1L, 2L, 3L).foreach { id =>
      assert(out(id).getAs[Long]("canonical_id") == 2L)
      assert(out(id).getAs[Boolean]("is_canonical") == (id == 2L))
    }
    // unpaired rows are their own singleton cluster
    assert(out(5L).getAs[Long]("cluster_id") == 5L &&
      out(5L).getAs[Boolean]("is_canonical"))
    // score ties break to the smaller id
    val tied = Dedup.canonicalByScore(
      Seq((7L, 5L), (8L, 5L)).toDF("doc_id", "n_tokens"), "doc_id", "n_tokens",
      Seq((7L, 8L)).toDF("id_a", "id_b")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    assert(tied(7L) == 7L && tied(8L) == 7L)
  }

  test("fertility report: subwords per word under a merge list") {
    val d = Seq((1L, "K", "ab ab c"), (2L, "K", "abc")).toDF("doc_id", "source", "text")
    val out = Bpe.fertilityReport(d, "source", "text", Seq(("a", "b")))
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    // words: ab, ab, c, abc → subwords: [ab], [ab], [c], [ab, c]
    assert(out("K").getAs[Long]("n_words") == 4L)
    assert(out("K").getAs[Long]("n_subwords") == 5L)
    assert(out("K").getAs[Long]("n_chars") == 8L)
    assert(out("K").getAs[Double]("fertility") == 1.25)
    assert(out("K").getAs[Double]("chars_per_subword") == 1.6)
    // empty merge list: every character stands alone
    val none = Bpe.fertilityReport(d, "source", "text", Nil).collect().head
    assert(none.getAs[Long]("n_subwords") == none.getAs[Long]("n_chars"))
  }

  test("bpe encode: ill-formed merge lists fall back to replay semantics") {
    // rank 0 references rank 1's output — the priority loop would
    // merge (b,c) first and then (a,bc); the replay contract says
    // rank 0 is a no-op because "bc" does not exist yet
    val d = Seq((1L, "abc")).toDF("doc_id", "text")
    val ill = Seq(("a", "bc"), ("b", "c"))
    val got = d.select(Bpe.encodeSubwords(col("text"), ill).as("s"))
      .collect().head.getSeq[String](0)
    assert(got == Seq("a", "bc"))
    val decl = d.select(graft.ops.Bpe.encodeSubwordsDeclarative(col("text"), ill).as("s"))
      .collect().head.getSeq[String](0)
    assert(got == decl)
  }

  test("pack efficiency: agrees with packSequences per candidate length") {
    val d = Seq((1L, 100L), (2L, 600L), (3L, 0L), (4L, 512L), (5L, 1L),
      (6L, 300L), (7L, 77L)).toDF("doc_id", "n")
    val rep = Sampling.packEfficiencyReport(d, "doc_id", "n",
        seqLens = Seq(128, 512))
      .collect().map(r => r.getAs[Long]("seq_len") -> r).toMap
    assert(rep.keySet == Set(128L, 512L))
    for (len <- Seq(128, 512)) {
      // reference: the per-doc placement map from packSequences
      val pl = Sampling.packSequences(d, "doc_id", "n", seqLen = len).collect()
      val tot = pl.map(_.getAs[Long]("n")).sum
      val nSeqs = (tot + len - 1) / len
      val split = pl.count(_.getAs[Long]("n_seqs") >= 2L)
      val r = rep(len.toLong)
      assert(r.getAs[Long]("n_docs") == 7L && r.getAs[Long]("n_tokens") == tot)
      assert(r.getAs[Long]("n_seqs") == nSeqs)
      assert(r.getAs[Long]("n_split_docs") == split)
      assert(math.abs(r.getAs[Double]("fill_rate") -
        BigDecimal(tot.toDouble / (nSeqs * len))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
      assert(r.getAs[Double]("split_rate") ==
        BigDecimal(split.toDouble / 7)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // keyed: packing (and so fragmentation) is per key group
    val keyed = d.withColumn("k", (col("doc_id") % 2).cast("string"))
    val byK = Sampling.packEfficiencyReport(keyed, "doc_id", "n",
      seqLens = Seq(512), keyCols = Seq("k")).collect()
    assert(byK.length == 2 && byK.map(_.getAs[Long]("n_tokens")).sum == 1590L)
  }

  test("curriculum order: matches the single-window ROW_NUMBER/NTILE reference") {
    import org.apache.spark.sql.expressions.Window
    val d = (1L to 30L).map(i => (i, i % 5)).toDF("doc_id", "difficulty")
    val got = Sampling.curriculumOrder(d, "doc_id", "difficulty", stages = 4)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("curriculum_rank"), r.getAs[Long]("stage"))).toMap
    val w = Window.orderBy(col("difficulty"),
      Sampling.hashKey(col("doc_id")), col("doc_id"))
    val want = d.select(col("doc_id"),
        row_number().over(w).cast("long").as("rk"),
        ntile(4).over(w).cast("long").as("st"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
    // 30 rows / 4 stages -> NTILE gives the first 2 stages 8 rows
    val sizes = got.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes == Map(1L -> 8, 2L -> 8, 3L -> 7, 4L -> 7))
    // N < stages: every row its own stage, no div-by-zero
    val tiny = Sampling.curriculumOrder(
        Seq((1L, 0L), (2L, 1L)).toDF("doc_id", "difficulty"),
        "doc_id", "difficulty", stages = 5)
      .collect().map(r => (r.getAs[Long]("curriculum_rank"), r.getAs[Long]("stage")))
    assert(tiny.toSet == Set((1L, 1L), (2L, 2L)))
    // output-column collision is an error, not a silent overwrite
    assertThrows[IllegalArgumentException] {
      Sampling.curriculumOrder(d.withColumn("stage", lit(1)),
        "doc_id", "difficulty", stages = 2)
    }
  }

  test("classifier calibration: hand-checked AUC/Brier/accuracy with a tie") {
    // pairs: (.9 beats .5), (.9 beats .1), (.5 ties .5), (.5 beats .1)
    // -> AUC = 3.5/4; acc: the neg at .5 predicts positive -> 3/4
    val scored = Seq(
      (1L, 1.0, 0.9), (2L, 1.0, 0.5), (3L, 0.0, 0.5), (4L, 0.0, 0.1)
    ).toDF("doc_id", "label", "prob")
    val report = Classifier.evalReport(scored, buckets = 10)
    // the column order the scaladoc lists
    assert(report.columns.toSeq ==
      Seq("bucket", "n", "avg_prob", "pos_rate", "auc", "brier", "accuracy"))
    val rep = report.collect()
    assert(rep.nonEmpty)
    val head = rep.head
    assert(head.getAs[Double]("auc") == 0.875)
    assert(head.getAs[Double]("accuracy") == 0.75)
    assert(head.getAs[Double]("brier") == 0.13)
    // the prob=0.5 bucket holds one pos and one neg
    val b5 = rep.find(_.getAs[Long]("bucket") == 5L).get
    assert(b5.getAs[Long]("n") == 2L &&
      b5.getAs[Double]("pos_rate") == 0.5 &&
      b5.getAs[Double]("avg_prob") == 0.5)
    // metrics are constant across bucket rows
    assert(rep.map(_.getAs[Double]("auc")).distinct.length == 1)
  }

  test("localCheckpointPartitioned keeps the hash partitioning: an aggregate on the key plans no Exchange") {
    // Classifier's featurize shape: repartition on the key with an
    // explicit count, checkpoint, aggregate on the key downstream.
    // A child session with AQE on, as `Tables.registerAll` leaves it:
    // without AQE the plain checkpoint keeps the partitioning too.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    val keyed = s.range(1, 201).select((col("id") % 7).as("k"), col("id").as("v"))
      .repartition(4, col("k"))
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllMatchIn(
        df.groupBy("k").agg(sum("v")).queryExecution.executedPlan.toString).size
    val kept = org.apache.spark.sql.graft.DatasetBridge.localCheckpointPartitioned(keyed)
    assert(exchanges(kept) == 0)
    // the plain checkpoint pins UnknownPartitioning and pays one
    assert(exchanges(keyed.localCheckpoint(true)) == 1)
    assert(kept.groupBy("k").agg(sum("v")).collect().toSet ==
      keyed.groupBy("k").agg(sum("v")).collect().toSet)
  }

  test("source similarity: exact jaccard + minhash estimate per overlapping pair") {
    val d = Seq(
      (1L, "a b c d e f", "kA"),
      (2L, "a b c d x y", "kB"),
      (3L, "z z z q q q w w w", "kC"),
      (4L, "a b c d e f", "kD")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceSimilarity(d, "source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // kC shares no gram with anyone — zero-overlap pairs are omitted
    assert(out.keySet == Set(("kA", "kB"), ("kA", "kD"), ("kB", "kD")))
    val ab = out(("kA", "kB"))
    // grams(A) = {abc,bcd,cde,def}, grams(B) = {abc,bcd,cdx,dxy}
    assert(ab.getAs[Long]("n_grams_a") == 4L && ab.getAs[Long]("n_grams_b") == 4L)
    assert(ab.getAs[Long]("n_common") == 2L)
    assert(ab.getAs[Double]("jaccard") == 0.333333)
    val est = ab.getAs[Double]("est_jaccard")
    assert(est >= 0.0 && est <= 1.0)
    // identical gram sets: exact AND estimate are exactly 1
    val ad = out(("kA", "kD"))
    assert(ad.getAs[Double]("jaccard") == 1.0 &&
      ad.getAs[Double]("est_jaccard") == 1.0)
  }

  test("epoch plan: water-filling caps and redistributes at target shares") {
    val d = Seq((1L, "A", 1000L), (2L, "B", 1000L), (3L, "C", 2000L),
        (4L, "D", 500L))
      .toDF("doc_id", "key", "n_tokens")
    val target = Seq("A" -> 0.5, "B" -> 0.3, "C" -> 0.2)
    def plan(b: Long) = Sampling.epochPlan(d, "key", "n_tokens", target, b, 2.0)
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    // caps: A 2000, B 2000, C 4000; r = cap/share: A 4000, B 6667, C 20000
    // budget under min r — nothing caps, takes at exact target shares
    val p3 = plan(3000L)
    assert(p3("A").getAs[Double]("n_tokens_take") == 1500.0 &&
      !p3("A").getAs[Boolean]("capped"))
    assert(p3("B").getAs[Double]("epochs") == 0.9)
    assert(p3("D").getAs[Double]("n_tokens_take") == 0.0 &&
      p3("D").getAs[Double]("target_share") == 0.0)
    // A caps at 2 epochs; B/C water-fill the remaining 3000 at 3:2
    val p5 = plan(5000L)
    assert(p5("A").getAs[Boolean]("capped") &&
      p5("A").getAs[Double]("epochs") == 2.0)
    assert(p5("B").getAs[Double]("n_tokens_take") == 1800.0 &&
      !p5("B").getAs[Boolean]("capped"))
    assert(p5("C").getAs[Double]("n_tokens_take") == 1200.0)
    // feasible budgets are spent exactly
    assert(Seq("A", "B", "C").map(k => p5(k).getAs[Double]("n_tokens_take")).sum == 5000.0)
    // budget == Σcaps: the λ = r tie — everything capped, exact spend
    val p8 = plan(8000L)
    assert(Seq("A", "B", "C").forall(k => p8(k).getAs[Boolean]("capped")))
    assert(Seq("A", "B", "C").map(k => p8(k).getAs[Double]("n_tokens_take")).sum == 8000.0)
    // infeasible budget freezes every key at its cap
    val p10 = plan(10000L)
    assert(p10("C").getAs[Double]("n_tokens_take") == 4000.0 &&
      p10("C").getAs[Boolean]("capped"))
  }

  test("epoch plan: a target key with no corpus rows caps at 0 and redistributes") {
    val d = Seq((1L, "A", 1000L), (2L, "B", 1000L)).toDF("doc_id", "key", "n_tokens")
    val target = Seq("A" -> 0.5, "B" -> 0.3, "C" -> 0.2) // C absent from d
    val p = Sampling.epochPlan(d, "key", "n_tokens", target, 2000L, 2.0)
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    // C appears, visibly capped at 0; its 0.2 share redistributes over
    // A/B at 5:3 so the budget is still spent exactly
    assert(p.contains("C"))
    assert(p("C").getAs[Long]("n_tokens_avail") == 0L &&
      p("C").getAs[Double]("n_tokens_take") == 0.0 &&
      p("C").getAs[Boolean]("capped"))
    assert(p("A").getAs[Double]("n_tokens_take") == 1250.0)
    assert(p("B").getAs[Double]("n_tokens_take") == 750.0)
    assert(Seq("A", "B", "C").map(k => p(k).getAs[Double]("n_tokens_take")).sum == 2000.0)
  }

  test("quantiles: PERCENTILE_DISC semantics incl. ties and q=0/1") {
    val d = Seq(("a", 1L), ("a", 1L), ("a", 1L), ("a", 4L),
        ("b", 10L), ("b", 20L), ("b", 30L), ("b", 40L), ("b", 50L))
      .toDF("k", "v")
    val got = Quantiles.quantileByKey(d, "k", "v", Seq(0.0, 0.5, 0.9, 1.0))
      .collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Double]("q")) ->
        r.getAs[Long]("quantile")).toMap
    // reference: smallest v whose cumulative count >= max(1, ceil(q*n))
    def ref(vs: Seq[Long], q: Double): Long = {
      val rank = math.max(1, math.ceil(q * vs.size).toLong)
      vs.sorted.apply(rank.toInt - 1)
    }
    val va = Seq(1L, 1L, 1L, 4L); val vb = Seq(10L, 20L, 30L, 40L, 50L)
    for (q <- Seq(0.0, 0.5, 0.9, 1.0)) {
      assert(got(("a", q)) == ref(va, q), s"a q=$q")
      assert(got(("b", q)) == ref(vb, q), s"b q=$q")
    }
    // the tie group: q=0.5 of [1,1,1,4] is 1, q=1.0 is 4
    assert(got(("a", 0.5)) == 1L && got(("a", 1.0)) == 4L)
    // filter keeps at-or-below the per-key threshold
    val kept = Quantiles.quantileFilter(d, "k", "v", q = 0.5)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("v")))
    assert(kept.toSet == Set(("a", 1L), ("b", 10L), ("b", 20L), ("b", 30L)))
  }

  test("contamination matrix reports zero cells and per-slice rates") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta shared phrase here", "x"),
      (2L, "totally clean document nothing shared at all", "x"),
      (3L, "another clean unrelated piece of writing", "y")
    ).toDF("doc_id", "text", "source")
    val bench = Seq(
      ("b1", "alpha beta gamma delta shared phrase here too"),
      ("b2", "quite disjoint benchmark question content")
    ).toDF("bench_id", "text")
    val got = Decontaminate.reportBySlice(corpus, bench,
        "doc_id", "source", "bench_id", "text", n = 3, minHits = 2)
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("bench_id_bench")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_contaminated"),
          r.getAs[Double]("contamination_rate"))).toMap
    assert(got.size == 4) // full 2x2 matrix, zero cells included
    assert(got(("x", "b1")) == ((2L, 1L, 0.5)))
    assert(got(("x", "b2")) == ((2L, 0L, 0.0)))
    assert(got(("y", "b1")) == ((1L, 0L, 0.0)))
    assert(got(("y", "b2")) == ((1L, 0L, 0.0)))
  }

  test("duplication profile: cluster-size histogram with excess counts") {
    val got = Dedup.duplicationProfile(docs, "text").collect()
      .map(r => r.getAs[Long]("cluster_size") ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_excess_docs"))).toMap
    // docs: one exact-dup pair (1,2), five singletons
    assert(got == Map(1L -> ((5L, 5L, 0L)), 2L -> ((1L, 2L, 1L))))
  }

  test("near-dup profile: token-identical docs cluster, singletons counted") {
    val got = Dedup.nearDupProfile(docs, "doc_id", "text",
        k = 16, bands = 4, n = 3, threshold = 0.25).collect()
      .map(r => r.getAs[Long]("cluster_size") ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_excess_docs"))).toMap
    // every doc lands in exactly one cluster
    assert(got.values.map(_._2).sum == 7L)
    // docs 1/2/4 tokenize identically (jaccard 1) -> one cluster >= 3
    val big = got.keys.max
    assert(big >= 3L, s"expected a >=3 cluster: $got")
    assert(got(big)._3 == (big - 1) * got(big)._1)
  }

  test("divergence report: hand-checked unigram KL to the corpus") {
    val d = Seq(("A", "x x y"), ("B", "y")).toDF("k", "text")
    val got = TextAnalysis.divergenceReport(d, "k", "text").collect()
      .map(r => r.getAs[String]("k") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("vocab_size"),
          r.getAs[Double]("kl_nats"))).toMap
    // corpus: x 2, y 2 (n=4). P_A=(2/3,1/3) vs Q=(1/2,1/2):
    // KL = 2/3 ln(4/3) + 1/3 ln(2/3) = 0.056633; P_B=(y:1): ln 2
    assert(got("A")._1 == 3L && got("A")._2 == 2L)
    assert(math.abs(got("A")._3 - 0.056633) < 1e-6, got("A").toString)
    assert(got("B")._1 == 1L && got("B")._2 == 1L)
    assert(math.abs(got("B")._3 - 0.693147) < 1e-6, got("B").toString)
  }

  test("semantic decontamination: cosine-near benchmark rows flag and drop") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),   // identical to bench 1
      (11L, Array(0.9f, 0.1f, 0.0f)),   // close to bench 1
      (12L, Array(0.0f, 0.0f, 1.0f))    // orthogonal to both
    ).toDF("vec_id", "embedding")
    val bench = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Decontaminate.semanticOverlap(corpus, bench, "vec_id", "embedding", 0.95)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("bench_id"), r.getAs[Double]("bench_cosine"),
          r.getAs[Boolean]("contaminated"))).toMap
    assert(got(10L)._1 == 1L && math.abs(got(10L)._2 - 1.0) < 1e-9 && got(10L)._3)
    assert(got(11L)._1 == 1L && got(11L)._3) // cos ≈ 0.994
    assert(got(12L)._2 == 0.0 && !got(12L)._3)
    val kept = Decontaminate.semanticDrop(corpus, bench, "vec_id", "embedding", 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(12L))
  }

  test("hard negatives: top-k excludes same-label and self") {
    val emb = Seq(
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 0, Array(0.99f, 0.14f)),  // same label as query — excluded
      (3L, 1, Array(0.9f, 0.44f)),   // different label, close
      (4L, 1, Array(0.0f, 1.0f)),    // different label, far
      (5L, 2, Array(0.95f, 0.31f))   // different label, closest
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.hardNegativesTopK(emb, emb.where($"vec_id" === 1L),
        "vec_id", "embedding", "label", k = 2)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("nn_id"),
        r.getAs[Int]("nn_label")))
    assert(got.length == 2)
    assert(got.map(_._2).toSet == Set(5L, 3L)) // 2 excluded (same label)
    assert(got.find(_._1 == 1).get._2 == 5L)   // closest different-label first
    assert(got.forall(_._3 != 0))
  }

  test("knn label purity: clean clusters score 1, mixed score below") {
    val emb = Seq(
      (1L, 0, Array(1.0f, 0.0f)), (2L, 0, Array(0.99f, 0.1f)),
      (3L, 0, Array(0.98f, 0.2f)),
      (4L, 1, Array(0.0f, 1.0f)), (5L, 1, Array(0.1f, 0.99f)),
      (6L, 0, Array(0.05f, 1.0f))  // label-0 row sitting in the label-1 region
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.knnLabelPurity(emb, emb, "vec_id", "embedding", "label", k = 2)
      .collect().map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_probes"), r.getAs[Long]("n_pairs"),
          r.getAs[Long]("n_same"), r.getAs[Double]("purity"))).toMap
    assert(got(0)._1 == 4L && got(1)._1 == 2L)
    // label 1's neighbors include the planted label-0 intruder
    assert(got(1)._4 < 1.0)
    // purity is n_same / n_pairs exactly
    val (_, np, ns, p) = got(0)
    assert(p == math.rint(ns.toDouble / np * 1e6) / 1e6)
  }

  test("cluster-balanced sample: per-cluster cap holds, assignment rides along") {
    val emb = (0 until 40).map { i =>
      val v = if (i % 2 == 0) Array(1.0f, 0.0f) else Array(0.0f, 1.0f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
      .toDF("cent_id", "centroid")
    val got = Sampling.clusterBalancedSample(emb, "vec_id", "embedding", cents, 5)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cent_id")))
    assert(got.length == 10)
    val byCluster = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byCluster == Map(0L -> 5, 1L -> 5))
    // assignment is the argmax centroid
    assert(got.forall { case (id, c) => c == (id % 2) })
  }

  test("quantile buckets: per-key thresholds split head/middle/tail") {
    val d = (1 to 12).map(i => ("a", i.toLong, i.toLong)) ++
      Seq(("b", 100L, 13L), ("b", 200L, 14L))
    val df = d.toDF("k", "v", "id")
    val got = Quantiles.bucketByKey(df, "k", "v", Seq(0.25, 0.75))
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("v")) ->
        r.getAs[Long]("bucket")).toMap
    // key a, n=12: q25 -> rank ceil(3)=3 -> v=3; q75 -> rank 9 -> v=9
    assert(got(("a", 3L)) == 0L && got(("a", 4L)) == 1L)
    assert(got(("a", 9L)) == 1L && got(("a", 10L)) == 2L)
    // key b, n=2: q25 -> rank 1 -> 100; q75 -> rank 2 -> 200
    assert(got(("b", 100L)) == 0L && got(("b", 200L)) == 1L)
  }

  test("quantile buckets: all-NULL-value keys and NULL keys pass through with NULL bucket") {
    val df = Seq(
      ("a", Some(1L), 1L), ("a", Some(2L), 2L), ("a", Some(3L), 3L),
      ("a", Some(4L), 4L),
      ("c", None, 5L), ("c", None, 6L),          // key with ALL-NULL values
      (null.asInstanceOf[String], Some(7L), 7L)) // NULL key
      .toDF("k", "v", "id")
    val rows = Quantiles.bucketByKey(df, "k", "v", Seq(0.25, 0.75)).collect()
    // NO row drops: every input row survives the threshold join
    assert(rows.length == 7)
    val byId = rows.map(r => r.getAs[Long]("id") ->
      Option(r.getAs[java.lang.Long]("bucket"))).toMap
    // all-NULL-value key: no threshold row exists -> NULL bucket
    assert(byId(5L).isEmpty && byId(6L).isEmpty)
    // NULL key never equi-joins -> NULL bucket, NOT the top bucket
    assert(byId(7L).isEmpty)
    // real keys still bucket exactly (n=4: q25 -> v=1, q75 -> v=3)
    assert(byId(1L).contains(0L) && byId(2L).contains(1L) &&
      byId(3L).contains(1L) && byId(4L).contains(2L))
  }

  test("zipf fit: exact power-law frequencies recover the slope") {
    // freq(rank) = 64 / 2^(rank-1): ln f = ln 64 - ln 2 * ... not a
    // pure zipf in rank — build freq = round(c * rank^-1) exactly:
    // ranks 1,2,4,8 with freqs 8,4,2,1 -> ln f = ln 8 - 1.0 * ln rank
    val words = Seq("a" -> 8, "b" -> 4, "c" -> 2, "d" -> 1)
      .flatMap { case (w, n) => Seq.fill(n)(w) }
    val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val r = TextAnalysis.zipfFit(df, "text").collect().head
    assert(r.getAs[Long]("vocab_size") == 4L)
    assert(r.getAs[Long]("n_tokens") == 15L)
    // freqs 8,4,2,1 at ranks 1,2,3,4: regression of ln f on ln r has
    // slope (Σ ln r ln f avg-centered): compute expected in-test
    val xs = Seq(1.0, 2.0, 3.0, 4.0).map(math.log)
    val ys = Seq(8.0, 4.0, 2.0, 1.0).map(math.log)
    val n = 4.0
    val slope = (n * xs.zip(ys).map { case (x, y) => x * y }.sum - xs.sum * ys.sum) /
      (n * xs.map(x => x * x).sum - xs.sum * xs.sum)
    assert(math.abs(r.getAs[Double]("zipf_slope") - math.rint(slope * 1e6) / 1e6) < 1e-9)
  }

  test("epoch apply: full copies exact, fractional copies bounded, zero keys drop") {
    val d = (1 to 20).map(i => (i.toLong, if (i <= 10) "a" else "b"))
      .toDF("doc_id", "source")
    val plan = Seq(("a", 2.0), ("b", 0.5), ("c", 3.0)).toDF("source", "epochs")
    val got = Sampling.epochApply(d, plan, "doc_id", "source")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("copy")))
    val byDoc = got.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // source a: exactly 2 copies each, numbered 1..2
    (1 to 10).foreach(i => assert(byDoc(i.toLong) == Seq(1L, 2L), s"doc $i"))
    // source b: 0 or 1 copy per doc (hash fraction of 0.5), some of each
    val bCounts = (11 to 20).map(i => byDoc.get(i.toLong).map(_.size).getOrElse(0))
    assert(bCounts.forall(c => c == 0 || c == 1))
    assert(bCounts.sum > 0 && bCounts.sum < 10)
    // deterministic: a second run selects the same copies
    val again = Sampling.epochApply(d, plan, "doc_id", "source")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("copy")))
    assert(got.sorted.toSeq == again.sorted.toSeq)
  }

  test("zscore blend: hand-checked z ensemble, zero-variance signal contributes 0") {
    val d = Seq((1L, "a", 1L, 5L), (2L, "a", 3L, 5L)).toDF("id", "k", "x", "c")
    val got = Classifier.zscoreBlend(d, "k", Seq("x", "c"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("quality_blend")).toMap
    // x: mean 2, sd 1 -> z = -1, +1; c: zero variance -> z = 0
    assert(got(1L) == -0.5 && got(2L) == 0.5)
  }

  test("embedding drift: aligned label tracks global mean, opposed label diverges") {
    val emb = Seq(
      (1L, 0, Array(1.0f, 0.0f)), (2L, 0, Array(1.0f, 0.0f)),
      (3L, 0, Array(1.0f, 0.0f)),
      (4L, 1, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.embeddingDriftReport(emb, "label", "embedding")
      .collect().map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("drift_cosine"))).toMap
    // global mean = (0.5, 0): label 0 centroid (1,0) -> cos 1;
    // label 1 centroid (-1,0) -> cos -1
    assert(got(0)._1 == 3L && got(0)._2 == 1.0)
    assert(got(1)._1 == 1L && got(1)._2 == -1.0)
  }

  test("ann recall report: nprobe=k lists reaches recall 1, fields integer-consistent") {
    val emb = (0 until 30).map { i =>
      (i.toLong, Array(math.cos(i * 0.21).toFloat, math.sin(i * 0.21).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = emb.where($"vec_id" < 3)
    val cents = emb.where($"vec_id" >= 27) // 3 centroids
    val full = Similarity.annRecallReport(emb, queries, cents,
      "vec_id", "embedding", k = 5, nprobe = 3).collect().head
    assert(full.getAs[Long]("n_queries") == 3L)
    assert(full.getAs[Long]("k") == 5L)
    // probing every list = exact search
    assert(full.getAs[Double]("avg_recall") == 1.0)
    assert(full.getAs[Double]("min_recall") == 1.0)
    val partial = Similarity.annRecallReport(emb, queries, cents,
      "vec_id", "embedding", k = 5, nprobe = 1).collect().head
    assert(partial.getAs[Double]("avg_recall") <= 1.0)
    assert(partial.getAs[Double]("min_recall") <= partial.getAs[Double]("avg_recall"))
  }

  test("top per key: keeps the n best by score, two-stage equals single-window") {
    val d = (1 to 50).map(i => (i.toLong, if (i % 2 == 0) "a" else "b", (i * 7 % 23).toLong))
      .toDF("id", "k", "score")
    val got = Sampling.topPerKey(d, "k", "id", "score", n = 5)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("id"))).toSet
    // reference: plain single window
    import org.apache.spark.sql.expressions.Window
    val ref = d.withColumn("_r", row_number().over(
        Window.partitionBy($"k").orderBy(desc("score"), $"id")))
      .where($"_r" <= 5)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("id"))).toSet
    assert(got == ref && got.size == 10)
  }

  test("length batches: buckets by width, batch ids dense within bucket") {
    val d = (1 to 100).map(i => (i.toLong, (i % 40).toLong)).toDF("doc_id", "n_tokens")
    val got = Sampling.lengthBatches(d, "doc_id", "n_tokens", batchSize = 4, bucketWidth = 16)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("len_bucket"), r.getAs[Long]("batch_id")))
    assert(got.length == 100)
    // bucket is integer division
    assert(got.forall { case (_, n, b, _) => b == n / 16 })
    // within a bucket, batch sizes are `batchSize` except the last
    got.groupBy(_._3).foreach { case (_, rows) =>
      val sizes = rows.groupBy(_._4).map { case (bid, rs) => bid -> rs.length }
      val maxBatch = sizes.keys.max
      sizes.foreach { case (bid, sz) =>
        if (bid < maxBatch) assert(sz == 4) else assert(sz >= 1 && sz <= 4)
      }
      // batch ids are dense from 0
      assert(sizes.keys.toSeq.sorted == (0L to maxBatch))
    }
  }

  test("curriculum order: NULL difficulty ranks as its own first class, not dropped") {
    val d = Seq((1L, Some(2L)), (2L, None), (3L, Some(1L)), (4L, None))
      .toDF("doc_id", "difficulty")
    val got = Sampling.curriculumOrder(d, "doc_id", "difficulty", stages = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("curriculum_rank")).toMap
    // all four rows rank (no null-join drop); nulls order first
    assert(got.size == 4)
    val nullRanks = Set(got(2L), got(4L))
    assert(nullRanks == Set(1L, 2L), s"null rows must rank first: $got")
    assert(got(3L) == 3L && got(1L) == 4L)
  }

  test("snake shards: matches the serpentine deal over the reference rank; sizes within one") {
    val d = (1 to 103).map(i => (i.toLong, (i * 13 % 257).toLong)).toDF("doc_id", "w")
    val got = Sampling.snakeShards(d, "doc_id", "w", nShards = 4, bandWidth = 16)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shard")).toMap
    assert(got.size == 103 && got.values.forall(s => s >= 0 && s < 4))
    // shard sizes differ by at most one (a snake deal's defining property)
    val sizes = got.values.groupBy(identity).map(_._2.size)
    assert(sizes.max - sizes.min <= 1)
    // exact match against the reference deal over the documented total
    // order (band DESC, md5-15-prefix, id)
    def md5p(id: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      h.map("%02x".format(_)).mkString.take(15)
    }
    val ref = (1 to 103).map(i => (i.toLong, (i * 13 % 257).toLong))
      .sortBy { case (id, w) => (-(w / 16), md5p(id), id) }
      .zipWithIndex.map { case ((id, _), i) =>
        val pos = i % 4
        id -> (if ((i / 4) % 2 == 0) pos.toLong else (3 - pos).toLong)
      }.toMap
    assert(got == ref)
  }

  test("snake shards: rejects colliding internal columns") {
    val d = Seq((1L, 2L, 0L)).toDF("doc_id", "w", "shard")
    intercept[IllegalArgumentException] {
      Sampling.snakeShards(d, "doc_id", "w", nShards = 2)
    }
  }

  test("pmi collocations: hand-computed pmi on a tiny corpus") {
    val d = Seq((1L, "a b a b c"), (2L, "b c d")).toDF("doc_id", "text")
    // unigrams a:2 b:3 c:2 d:1 (N=8); bigrams ab:2 ba:1 bc:2 cd:1 (M=6)
    val got = TextAnalysis.pmiCollocations(d, "text", minCount = 1, k = 10)
      .collect().map(r => ((r.getAs[String]("w1"), r.getAs[String]("w2")),
        (r.getAs[Long]("c_ab"), r.getAs[Double]("pmi")))).toMap
    def pmi(cab: Long, ca: Long, cb: Long): Double =
      BigDecimal(math.log(cab.toDouble) + 2.0 * math.log(8.0) - math.log(6.0)
        - math.log(ca.toDouble) - math.log(cb.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set(("a", "b"), ("b", "a"), ("b", "c"), ("c", "d")))
    assert(got(("a", "b")) == ((2L, pmi(2, 2, 3))))
    assert(got(("b", "a")) == ((1L, pmi(1, 3, 2))))
    assert(got(("b", "c")) == ((2L, pmi(2, 3, 2))))
    assert(got(("c", "d")) == ((1L, pmi(1, 2, 1))))
  }

  test("pmi collocations: single-token and empty docs contribute no bigrams") {
    val d = Seq((1L, "x"), (2L, ""), (3L, "x y")).toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(d, "text", minCount = 1, k = 10).collect()
    // one bigram (x,y); unigrams x:2 y:1, N=3, M=1
    assert(got.length == 1)
    assert(got.head.getAs[String]("w1") == "x" && got.head.getAs[String]("w2") == "y")
    assert(got.head.getAs[Long]("c_ab") == 1L)
  }

  test("interleave order: prefixes carry keys in proportion to weight") {
    val d = (1 to 120).map(i => (i.toLong, if (i % 3 == 0) "a" else "b"))
      .toDF("doc_id", "source") // a:40 docs, b:80 docs
    val w = Seq(("a", 1.0), ("b", 2.0)).toDF("source", "q")
    val rows = Sampling.interleaveOrder(d, "doc_id", "source", w, "q")
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("src_rank"),
        r.getAs[Double]("interleave_key")))
    assert(rows.length == 120)
    // per-key ranks dense from 1
    Seq("a" -> 40, "b" -> 80).foreach { case (s, n) =>
      assert(rows.filter(_._1 == s).map(_._2).sorted.toSeq == (1L to n))
    }
    // key formula
    assert(rows.forall { case (s, r, k) =>
      k == BigDecimal((r - 0.5) / (if (s == "a") 1.0 else 2.0))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    })
    // any prefix of the virtual-time order holds ~1:2 a:b
    val ordered = rows.sortBy(_._3).take(30)
    val aCount = ordered.count(_._1 == "a")
    assert(aCount >= 8 && aCount <= 12, s"expected ~10 'a' in first 30, got $aCount")
  }

  test("interleave order: keys absent from the weight table are dropped") {
    val d = Seq((1L, "a"), (2L, "zz")).toDF("doc_id", "source")
    val w = Seq(("a", 1.0)).toDF("source", "q")
    val got = Sampling.interleaveOrder(d, "doc_id", "source", w, "q").collect()
    assert(got.length == 1 && got.head.getAs[Long]("doc_id") == 1L)
  }

  test("ANN index cold-start: a reloaded index serves bit-identical top-k on every arm") {
    graft.core.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val emb = spark.table("embeddings")
    val queries = emb.orderBy("vec_id").limit(5)
    val path = graft.TempDir("graft_ann_idx").toString
    AnnIndex.build(emb, "vec_id", "embedding", path,
      dims = 64, ivfK = 8, pqM = 4, pqK = 4, planes = 8, iters = 2)

    // in-session artifacts (what a training session would hold live)
    val cent = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", 8, 2)
    val cb = Similarity.trainPqCodebooks(emb, "vec_id", "embedding", 64, 4, 4, 2)

    // a FRESH session (shares only the context — none of the session
    // state) reloads the index and must serve identical bits
    val s2 = spark.newSession()
    graft.core.Tables.registerAll(s2, "/root/testdata/sf0.001")
    val emb2 = s2.table("embeddings")
    val q2 = emb2.orderBy("vec_id").limit(5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    // ivfTopK reads the centroid table through (idCol, vecCol) names
    def asCent(df: org.apache.spark.sql.DataFrame) =
      df.select(col("cent_id").as("vec_id"), col("centroid").as("embedding"))

    val ivfCold = Similarity.ivfTopK(emb2, q2,
      asCent(AnnIndex.readIvfCentroids(s2, path)), "vec_id", "embedding",
      k = 10, nprobe = 2)
    val ivfLive = Similarity.ivfTopK(emb, queries, asCent(cent), "vec_id", "embedding",
      k = 10, nprobe = 2)
    assert(rows(ivfCold) == rows(ivfLive) && rows(ivfCold).nonEmpty)

    val pqCold = Similarity.pqTopKEncoded(AnnIndex.readPqCodes(s2, path), q2,
      "vec_id", "embedding", AnnIndex.readPqCodebooks(s2, path), k = 10)
    val pqLive = Similarity.pqTopK(emb, queries, "vec_id", "embedding", cb, k = 10)
    assert(rows(pqCold) == rows(pqLive) && rows(pqCold).nonEmpty)

    val lshCold = Similarity.lshTopKFromBuckets(emb2,
      AnnIndex.readLshBuckets(s2, path), q2, "vec_id", "embedding",
      k = 10, planes = 8, hamming = 1)
    val lshLive = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
      k = 10, planes = 8, hamming = 1)
    assert(rows(lshCold) == rows(lshLive) && rows(lshCold).nonEmpty)
  }

  test("ANN index append: frozen-codebook ingest serves as if the union were encoded at build") {
    graft.core.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val emb = spark.table("embeddings")
    val bnd = emb.agg(max(col("vec_id"))).head().getLong(0) * 3 / 5
    val old = emb.where(col("vec_id") <= bnd)
    val inc = emb.where(col("vec_id") > bnd)
    assert(old.count() > 0 && inc.count() > 0)
    val path = graft.TempDir("graft_ann_app").toString
    AnnIndex.build(old, "vec_id", "embedding", path,
      dims = 64, ivfK = 4, pqM = 4, pqK = 4, planes = 8, iters = 2)
    assert(AnnIndex.readManifest(spark, path) == (64, 4, 4, 4, 8, 2))
    AnnIndex.append(inc, "vec_id", "embedding", path)

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    // the appended code table IS the full corpus encoded against the
    // codebooks trained on the ORIGINAL build corpus — the frozen-
    // codebook contract, bit-exact (argmax encode decomposes per row)
    val cbOld = AnnIndex.readPqCodebooks(spark, path)
    assert(rows(AnnIndex.readPqCodes(spark, path)) ==
      rows(Similarity.pqEncode(emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", cbOld)))
    // and serving from the appended index matches serving computed
    // live over the union with those same codebooks, bit-identically
    val queries = emb.where(col("vec_id") < 5)
    val servedCold = Similarity.pqTopKEncoded(AnnIndex.readPqCodes(spark, path),
      queries, "vec_id", "embedding", cbOld, k = 10)
    val servedLive = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
      cbOld, k = 10)
    assert(rows(servedCold) == rows(servedLive) && rows(servedCold).nonEmpty)
    val lshCold = Similarity.lshTopKFromBuckets(emb,
      AnnIndex.readLshBuckets(spark, path), queries, "vec_id", "embedding",
      k = 10, planes = 8, hamming = 1)
    val lshLive = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
      k = 10, planes = 8, hamming = 1)
    assert(rows(lshCold) == rows(lshLive) && rows(lshCold).nonEmpty)

    // a wrong-dimensional increment must fail LOUDLY against the
    // manifest's dims, not encode misaligned garbage codes silently
    val codesBefore = rows(AnnIndex.readPqCodes(spark, path))
    val bad = inc.select(col("vec_id"),
      slice(col("embedding"), 1, 32).as("embedding"))
    val err = intercept[Exception] {
      AnnIndex.append(bad, "vec_id", "embedding", path)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(err).exists(m => m != null && m.contains("manifest dims")))
    // and the failed append left the code table untouched
    assert(rows(AnnIndex.readPqCodes(spark, path)) == codesBefore)

    // the root-path stats the maintenance scheduler keys on (the
    // compact() counterpart): both sub-stores summarized; build+append
    // left each store with two data directories → dirty until compaction
    assert(AnnIndex.stats(spark, path).exists(st =>
      st.pqCodes.nDataLeaves > 0 && st.lshBuckets.nDataLeaves > 0 &&
        st.dirtyFraction > 0.0))
    AnnIndex.compact(spark, path)
    assert(AnnIndex.stats(spark, path).get.dirtyFraction == 0.0)
    // stats on the ROOT of a non-ANN store stays None (the documented
    // asymmetry indexStats carries)
    assert(IndexStore.stats(spark, path).isEmpty)
  }

  test("index compaction: content-identical swap, fewer files, merged span minima") {
    graft.core.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val docs = spark.table("documents").select(col("doc_id"), col("text"))
    // live data directories — the manifest-committed layout's
    // observable maintenance state
    def dataDirs(p: String) = IndexStore.liveEntries(spark, p).count(_.startsWith("data-"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet

    // MinHash signature index: rows are load-bearing — layout only
    val mh = graft.TempDir("graft_cmp_mh").toString
    Dedup.writeMinhashIndex(docs.where($"doc_id" <= 20), "doc_id", "text", mh)
    Dedup.writeMinhashIndex(docs.where($"doc_id" > 20), "doc_id", "text", mh,
      append = true)
    val mhBefore = rows(IncrementalIndex.Minhash.read(spark, mh))
    assert(dataDirs(mh) > 1, "two appends leave two data directories")
    IncrementalIndex.Minhash.compact(spark, mh)
    assert(rows(IncrementalIndex.Minhash.read(spark, mh)) == mhBefore)
    assert(dataDirs(mh) == 1, "the index holds ONE data directory after compaction")

    // span-gram index: compaction also merges per-shard minima — the
    // read-time aggregate must see identical per-gram minima, one
    // row per gram afterwards
    val sg = graft.TempDir("graft_cmp_sg").toString
    Dedup.writeSpanGramIndex(docs.where($"doc_id" <= 20), "doc_id", "text", sg, n = 5)
    Dedup.writeSpanGramIndex(docs.where($"doc_id" > 20), "doc_id", "text", sg,
      n = 5, append = true)
    val minBefore = IncrementalIndex.Span.read(spark, sg)
      .groupBy("gh").agg(min("min_doc").as("m"))
    val minMapBefore = rows(minBefore)
    IncrementalIndex.Span.compact(spark, sg)
    val after = IncrementalIndex.Span.read(spark, sg)
    assert(rows(after.groupBy("gh").agg(min("min_doc").as("m"))) == minMapBefore)
    assert(after.count() == minMapBefore.size, "one row per gram after merge")

    // line index: the same minima merge per line hash. Every doc
    // carries a shared header line, and the two appends overlap, so
    // each append holds its own (lh, min_doc) rows for the same lines
    val lines = docs.select(col("doc_id"),
      concat(lit("SHARED NAV BAR\n"), col("text")).as("text"))
    val ln = graft.TempDir("graft_cmp_ln").toString
    Dedup.writeLineIndex(lines.where($"doc_id" <= 20), "doc_id", "text", ln)
    Dedup.writeLineIndex(lines.where($"doc_id" > 10), "doc_id", "text", ln,
      append = true)
    val lnBefore = IncrementalIndex.Line.read(spark, ln)
    val lnMinBefore = rows(lnBefore.groupBy("lh").agg(min("min_doc").as("m")))
    assert(lnBefore.count() > lnMinBefore.size, "the appends repeat line hashes")
    assert(dataDirs(ln) > 1, "two appends leave two data directories")
    IncrementalIndex.Line.compact(spark, ln)
    val lnAfter = IncrementalIndex.Line.read(spark, ln)
    assert(rows(lnAfter.groupBy("lh").agg(min("min_doc").as("m"))) == lnMinBefore)
    assert(lnAfter.count() == lnMinBefore.size, "one row per line hash after merge")
    assert(dataDirs(ln) == 1, "the index holds ONE data directory after compaction")

    // ANN index: serving bit-identical across the compaction swap
    graft.core.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val emb = spark.table("embeddings")
    val bnd = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    val ann = graft.TempDir("graft_cmp_ann").toString
    AnnIndex.build(emb.where($"vec_id" <= bnd), "vec_id", "embedding", ann,
      dims = 64, ivfK = 4, pqM = 4, pqK = 4, planes = 8, iters = 2)
    AnnIndex.append(emb.where($"vec_id" > bnd), "vec_id", "embedding", ann)
    val queries = emb.where($"vec_id" < 5)
    val cb = AnnIndex.readPqCodebooks(spark, ann)
    val servedBefore = rows(Similarity.pqTopKEncoded(
      AnnIndex.readPqCodes(spark, ann), queries, "vec_id", "embedding", cb, k = 10))
    AnnIndex.compact(spark, ann)
    assert(rows(Similarity.pqTopKEncoded(
      AnnIndex.readPqCodes(spark, ann), queries, "vec_id", "embedding", cb,
      k = 10)) == servedBefore)
    assert(servedBefore.nonEmpty)
  }

  test("pq fixture provenance: the hand-pasted codebook IS trainPqCodebooks on sf0.01, 6 dp") {
    // the gate that keeps PqFixture honest: if the trainer or the
    // sf0.01 embeddings drift, the serving rows would still pass
    // their oracles (both engines consume the same stale fixture) —
    // THIS comparison is what fails
    graft.core.Tables.registerAll(spark, "/root/testdata/sf0.01")
    val trained = Similarity.trainPqCodebooks(
        spark.table("embeddings"), "vec_id", "embedding",
        dims = 64, m = 4, k = 4, iters = 2)
      .select(col("sub"), col("cent_id"),
        transform(col("centroid"), v => round(v, 6)).as("cv"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Double](2).toSeq)
      .toMap
    val fixture = PqFixture.entries
      .map { case (s, c, vs) => (s, c) -> vs }.toMap
    assert(trained.keySet == fixture.keySet)
    assert(trained == fixture,
      s"fixture drift: ${fixture.keySet.filter(k => trained(k) != fixture(k)).take(2)}")
  }

  test("pq: encode emits one in-range code per subspace; topk matches the ADC definition") {
    // three well-separated clusters in 8 dims
    val vecs = (0 until 30).map { i =>
      val arr = Array.fill(8)(0.05f); arr((i % 3) * 2) = 1.0f
      arr((i % 3) * 2 + 1) = 0.5f + 0.01f * (i / 3); (i.toLong, arr)
    }.toDF("vec_id", "embedding")
    val cb = Similarity.trainPqCodebooks(vecs, "vec_id", "embedding",
      dims = 8, m = 2, k = 3, iters = 2)
    assert(cb.count() == 6) // 2 subspaces × 3 centroids
    val enc = Similarity.pqEncode(vecs, "vec_id", "embedding", cb).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Long](r.fieldIndex("codes")))
      .toMap
    assert(enc.size == 30)
    assert(enc.values.forall(c => c.length == 2 && c.forall(x => x >= 0 && x < 3)))
    // ADC reference computed directly from the collected codebooks
    val books = cb.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      r.getSeq[Double](2).toArray).toMap
    val raw = (0 until 30).map { i =>
      val arr = Array.fill(8)(0.05); arr((i % 3) * 2) = 1.0
      arr((i % 3) * 2 + 1) = 0.5 + 0.01 * (i / 3); i.toLong -> arr
    }.toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val q = 0L
    val got = Similarity.pqTopK(vecs, vecs.where($"vec_id" === q),
        "vec_id", "embedding", cb, k = 5)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("nn_id"))).toSet
    val qv = raw(q); val qn = math.sqrt(dot(qv, qv))
    val ref = raw.keys.filter(_ != q).map { v =>
      val codes = enc(v)
      val num = (0 until 2).map(j => dot(qv.slice(j * 4, j * 4 + 4),
        books((j.toLong, codes(j))))).sum
      val vn2 = (0 until 2).map(j => dot(books((j.toLong, codes(j))),
        books((j.toLong, codes(j))))).sum
      v -> num / (qn * math.sqrt(vn2))
    }.toSeq.sortBy { case (id, c) => (-c, id) }.take(5)
      .zipWithIndex.map { case ((id, _), i) => (i + 1, id) }.toSet
    assert(got == ref, s"got $got vs ref $ref")
    // cluster structure respected: every top-3 neighbor of q shares
    // q's cluster (same i % 3)
    assert(got.filter(_._1 <= 3).forall { case (_, id) => id % 3 == q % 3 })
  }

  test("pq refine: with full-coverage refine factor it equals exact brute force") {
    val vecs = (0 until 24).map { i =>
      val arr = Array.fill(8)(0.05f); arr(i % 4) = 1.0f
      arr((i + 1) % 4) = 0.3f + 0.02f * (i / 4); (i.toLong, arr)
    }.toDF("vec_id", "embedding")
    val cb = Similarity.trainPqCodebooks(vecs, "vec_id", "embedding",
      dims = 8, m = 2, k = 3, iters = 2)
    // refineFactor 8 → 5×8=40 ≥ 23 candidates: the coarse stage keeps
    // everything, so the exact re-rank must reproduce brute force
    val refined = Similarity.pqTopKRefined(vecs, vecs.where($"vec_id" < 2),
        "vec_id", "embedding", cb, k = 5, refineFactor = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("nn_id"), math.round(r.getAs[Double]("cosine") * 1e9)))).toMap
    val brute = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" < 2),
        "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("nn_id"), math.round(r.getAs[Double]("cosine") * 1e9)))).toMap
    assert(refined.size == 10 && refined == brute)
  }

  test("new rank/deal/encode ops are invariant under physical repartitioning") {
    val docs = (1 to 80).map(i => (i.toLong, s"src${i % 5}", (i * 37 % 211).toLong))
      .toDF("doc_id", "source", "w")
    val vecs = (0 until 40).map { i =>
      val arr = Array.fill(8)(0.02f); arr(i % 4) = 1.0f; (i.toLong, arr)
    }.toDF("vec_id", "embedding")
    def shards(d: org.apache.spark.sql.DataFrame) =
      Sampling.snakeShards(d, "doc_id", "w", nShards = 3)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shard")).toMap
    assert(shards(docs.repartition(13)) == shards(docs.coalesce(1)))
    val wts = Seq(("src0", 1.0), ("src1", 2.0), ("src2", 1.5), ("src3", 0.5),
      ("src4", 1.0)).toDF("source", "q")
    def il(d: org.apache.spark.sql.DataFrame) =
      Sampling.interleaveOrder(d, "doc_id", "source", wts, "q")
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("src_rank"), r.getAs[Double]("interleave_key")))).toMap
    assert(il(docs.repartition(13)) == il(docs.coalesce(1)))
    val cb = Similarity.trainPqCodebooks(vecs, "vec_id", "embedding",
      dims = 8, m = 2, k = 3, iters = 2)
    def codes(d: org.apache.spark.sql.DataFrame) =
      Similarity.pqEncode(d, "vec_id", "embedding", cb)
        .collect().map(r => r.getAs[Long]("vec_id") ->
          r.getSeq[Long](r.fieldIndex("codes"))).toMap
    assert(codes(vecs.repartition(7)) == codes(vecs.coalesce(1)))
    // the trainer itself is partitioning-invariant (decimal-exact sums)
    val cb2 = Similarity.trainPqCodebooks(vecs.repartition(7), "vec_id",
      "embedding", dims = 8, m = 2, k = 3, iters = 2)
    val a = cb.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      r.getSeq[Double](2)).toMap
    val b = cb2.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      r.getSeq[Double](2)).toMap
    assert(a == b)
  }

  test("oov by source: rate against the corpus top-V vocabulary") {
    val d = Seq((1L, "s1", "aa aa bb cc"), (2L, "s2", "aa dd dd dd"))
      .toDF("doc_id", "source", "text")
    // corpus counts: aa:3 dd:3 bb:1 cc:1 → top-2 vocab {aa, dd}
    val got = TextAnalysis.oovBySource(d, "source", "text", vocabSize = 2)
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Double]("oov_rate")))).toMap
    assert(got("s1") == ((4L, 2L, 0.5)))   // bb, cc OOV
    assert(got("s2") == ((4L, 0L, 0.0)))
  }
}
