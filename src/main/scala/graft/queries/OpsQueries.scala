package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Dedup, IncrementalIndex, Multimodal, Similarity, TextAnalysis}

/** Driver-verifiable entries for the LLM-data-pipeline operators
  * (dedup, text analysis, similarity search, multimodal plumbing)
  * over the `documents` and `embeddings` tables.
  *
  * Oracle parity strategy: everything integer-derived (token counts,
  * Jaccard from set sizes, minhash via md5-string minima, simhash
  * votes) is bit-exact; cosine values round to 6 dp (sum-order ulp
  * tolerance) while pair SETS and ranks come from well-separated
  * values.
  */
object OpsQueries {

  // shared oracle fragments -------------------------------------------

  /** DuckDB tokenization matching TextAnalysis.tokens. */
  private val oracleToks =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  /** DuckDB 3-shingle list matching Dedup.shingles(n=3). */
  private val oracleShingles =
    s"""CASE WHEN len(toks) >= 3
       |  THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks) - 2)])
       |  ELSE [array_to_string(toks, ' ')] END""".stripMargin

  /** Deterministic multi-line view of the corpus for the line-dedup
    * rows: the single-space-joined text regrouped into 6-token lines
    * (the corpus itself carries no newlines — line granularity has to
    * be synthesized, identically in both engines).
    */
  private def sixTokenLines(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = split(col("text"), " ")
    val nLines = greatest(ceil(size(toks) / lit(6.0)).cast("int"), lit(1))
    docs.select(col("doc_id"),
      array_join(
        transform(sequence(lit(0), nLines - 1),
          i => array_join(slice(toks, i * lit(6) + lit(1), lit(6)), " ")),
        "\n").as("text"))
  }

  /** DuckDB replica of [[sixTokenLines]] + the corpus-global min-doc
    * line-cut rule — CTE chain ending in `ld(doc_id, ls)` (the line
    * arrays) and `lagg(doc_id, clean_text, n_kept)` (the kept lines).
    */
  private val lineOracleCtes: String =
    """lt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |ld AS (SELECT doc_id,
      |         [array_to_string(toks[i:i+5], ' ') for i in generate_series(1, len(toks), 6)] AS ls
      |       FROM lt),
      |ll AS (SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) - 1 AS lpos FROM ld),
      |nb AS (SELECT doc_id, lpos, line FROM ll WHERE trim(line) <> ''),
      |ldup AS (SELECT line, MIN(doc_id) AS mn FROM nb GROUP BY line
      |         HAVING MIN(doc_id) <> MAX(doc_id)),
      |lcut AS (SELECT nb.doc_id, nb.lpos FROM nb JOIN ldup
      |         ON nb.line = ldup.line AND nb.doc_id <> ldup.mn),
      |lkept AS (SELECT ll.doc_id, ll.line, ll.lpos FROM ll ANTI JOIN lcut
      |          ON ll.doc_id = lcut.doc_id AND ll.lpos = lcut.lpos),
      |lagg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY lpos) AS clean_text,
      |                COUNT(*) AS n_kept FROM lkept GROUP BY doc_id)""".stripMargin

  /** Target source mixture for the sample_mixture_* queries. */
  private val MixTarget: Seq[(String, Double)] =
    Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)

  /** The same mixture as a DuckDB CASE over `source`. */
  private val mixShareSql: String =
    MixTarget.map { case (k, s) => s"WHEN '$k' THEN $s" }
      .mkString("CASE source ", " ", " ELSE 0.0 END")

  /** The mixture as a VALUES list (epoch planning enumerates target
    * keys so one missing from the corpus still participates).
    */
  private val mixValuesSql: String =
    MixTarget.map { case (k, s) => s"('$k', $s)" }.mkString(", ")

  /** Mixture for the end-to-end pipeline (src0 is the bench corpus). */
  private val MixTargetPipe: Seq[(String, Double)] =
    Seq("src1" -> 0.4, "src2" -> 0.3, "src3" -> 0.3)

  private val mixShareSqlPipe: String =
    MixTargetPipe.map { case (k, s) => s"WHEN '$k' THEN $s" }
      .mkString("CASE source ", " ", " ELSE 0.0 END")

  /** DuckDB replica of Similarity.lshBucket (8 planes, 64 dims): CTE
    * chain ending in `b(vec_id, bucket)`.
    */
  private val lshBucketCtes: String =
    """planes AS (SELECT unnest(generate_series(0, 7)) AS p),
      |dims AS (SELECT unnest(generate_series(0, 63)) AS i),
      |w AS (SELECT p, i,
      |  CASE WHEN (strpos('0123456789abcdef', substr(md5(p || '|' || i), 1, 1)) - 1) % 2 = 0
      |       THEN 1.0 ELSE -1.0 END AS wt
      |  FROM planes CROSS JOIN dims),
      |sums AS (
      |  SELECT e.vec_id, w.p,
      |         SUM(CAST(e.embedding[w.i + 1] AS DOUBLE) * w.wt) AS s
      |  FROM embeddings e CROSS JOIN w
      |  GROUP BY e.vec_id, w.p),
      |b AS (
      |  SELECT vec_id, string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
      |  FROM sums GROUP BY vec_id)""".stripMargin

  /** DuckDB replica of Bpe.trainMerges: k unrolled merge rounds as
    * MATERIALIZED CTEs (w0 = char-segmented word counts; per round a
    * pair count p{i}, the argmax m{i}, and the merged table w{i+1}
    * via the same double-space-separator `replace`). `carryWord`
    * keeps the source word through the chain for encode oracles.
    * Returns the full `WITH ...` prefix ending at w{k}/m{k-1}.
    */
  private def bpeOracle(k: Int, carryWord: Boolean): String = {
    val wCol = if (carryWord) "w, " else ""
    val w0 =
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT ${if (carryWord) "w, " else ""}CAST(COUNT(*) AS BIGINT) AS freq,
         |         '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS s
         |  FROM (SELECT unnest($oracleToks) AS w FROM documents) GROUP BY w)""".stripMargin
    val rounds = (0 until k).map { i =>
      s"""p$i AS (
         |  SELECT a, b, CAST(SUM(freq) AS BIGINT) AS c FROM (
         |    SELECT freq, syms[j] AS a, syms[j + 1] AS b FROM (
         |      SELECT freq, string_split(trim(s), '  ') AS syms,
         |             unnest(generate_series(1, len(string_split(trim(s), '  ')) - 1)) AS j
         |      FROM w$i))
         |  GROUP BY a, b HAVING SUM(freq) >= 2),
         |m$i AS MATERIALIZED (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1),
         |w${i + 1} AS MATERIALIZED (
         |  SELECT ${wCol}freq,
         |         replace(s, ' ' || (SELECT a FROM m$i) || '  ' || (SELECT b FROM m$i) || ' ',
         |                    ' ' || (SELECT a || b FROM m$i) || ' ') AS s FROM w$i)""".stripMargin
    }
    (w0 +: rounds).mkString(",\n")
  }

  /** DuckDB cosine matching Similarity.cosine's double math. */
  private def oracleCosine(a: String, b: String): String =
    s"""((SELECT SUM(CAST(ea AS DOUBLE)*CAST(eb AS DOUBLE)) FROM (SELECT unnest($a) ea, unnest($b) eb))
       | / (sqrt((SELECT SUM(CAST(e AS DOUBLE)*CAST(e AS DOUBLE)) FROM (SELECT unnest($a) e)))
       |   * sqrt((SELECT SUM(CAST(e AS DOUBLE)*CAST(e AS DOUBLE)) FROM (SELECT unnest($b) e)))))""".stripMargin

  /** The k-means CTE chain alone (through `cent<iters>`, no leading
    * WITH / trailing comma) — shared by the centroid dump and the
    * SemDeDup drop oracle.
    */
  private def trainCtes(k: Int, iters: Int, dims: Int,
                        src: String = "embeddings", p: String = ""): String = {
    val sb = new StringBuilder
    sb ++= s"""${p}init AS (
              |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS ci,
              |         embedding
              |  FROM $src ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k),
              |${p}cent0 AS (SELECT ci, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM ${p}init),
              |""".stripMargin
    for (t <- 1 to iters) {
      val prev = s"${p}cent${t - 1}"
      sb ++= s"""${p}assign$t AS (
                |  SELECT vec_id, embedding, ci FROM (
                |    SELECT vec_id, embedding, ci,
                |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, ci DESC) AS rn
                |    FROM (SELECT e.vec_id, e.embedding, c.ci, ${oracleCosine("e.embedding", "c.cv")} AS cos
                |          FROM $src e CROSS JOIN $prev c))
                |  WHERE rn = 1),
                |${p}sums$t AS (
                |  SELECT ci, d.i AS pos,
                |         CAST(SUM(CAST(embedding[d.i] AS DECIMAL(38,15))) AS DOUBLE) AS s,
                |         COUNT(*) AS n
                |  FROM ${p}assign$t, (SELECT unnest(generate_series(1, $dims)) AS i) d
                |  GROUP BY ci, d.i),
                |${p}cent$t AS (
                |  SELECT p.ci, list(COALESCE(s.s / s.n, p.cv[p.pos]) ORDER BY p.pos) AS cv
                |  FROM (SELECT ci, cv, unnest(generate_series(1, $dims)) AS pos FROM $prev) p
                |  LEFT JOIN ${p}sums$t s ON s.ci = p.ci AND s.pos = p.pos
                |  GROUP BY p.ci),
                |""".stripMargin
    }
    sb.toString.stripSuffix("\n").stripSuffix(",")
  }

  /** The pre-trained codebook as `cb(sub, code, cv)` — VALUES rows
    * interpolated from [[graft.ops.PqFixture]] (one source of truth
    * with the Spark serving side; the trainer is its own
    * `ann_pq_train` row). The list literals go through an explicit
    * DOUBLE cast so the chain's arithmetic is double end-to-end.
    */
  private val pqFixtureCb: String =
    s"""cb AS (
       |  SELECT sub, code, list_transform(cv, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM (VALUES ${graft.ops.PqFixture.valuesSql}) t(sub, code, cv))""".stripMargin

  /** Argmax-cosine encode of every corpus vector against `cb`
    * (dynamic subspace slice; ties to the larger code — the trainer's
    * rule) — ends with `pqenc(vec_id, sub, code)`.
    */
  private def pqEncFixture(w: Int = 16): String = {
    val sliceCos = oracleCosine(s"e.embedding[b.sub*$w+1:b.sub*$w+$w]", "b.cv")
    s"""pqenc AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY cos DESC, code DESC) AS rn
       |    FROM (SELECT e.vec_id, b.sub, b.code,
       |                 $sliceCos AS cos
       |          FROM embeddings e CROSS JOIN cb b))
       |  WHERE rn = 1)""".stripMargin
  }

  /** The ADC scoring chain over `cb` + `pqenc`: the per-(query, sub,
    * centroid) dot-product LUT, decimal-exact subspace sums, and the
    * rank window — ends with `adcranked(query_id, nn_id, cos, rank)`,
    * shared by the plain ADC top-k, the refined two-stage query and
    * the recall report's pq arm.
    */
  private def pqAdcChain(w: Int = 16, queryPred: String = "q.vec_id < 5"): String =
    s"""lut AS (
       |  SELECT q.vec_id AS query_id, b.sub, b.code,
       |    (SELECT SUM(CAST(ea AS DOUBLE)*CAST(eb AS DOUBLE))
       |     FROM (SELECT unnest(q.embedding[b.sub*$w+1:b.sub*$w+$w]) ea, unnest(b.cv) eb)) AS d,
       |    (SELECT SUM(CAST(e AS DOUBLE)*CAST(e AS DOUBLE))
       |     FROM (SELECT unnest(b.cv) e)) AS cn2
       |  FROM embeddings q CROSS JOIN cb b WHERE $queryPred),
       |adcscore AS (
       |  SELECT l.query_id, e.vec_id AS nn_id,
       |    CAST(SUM(CAST(ROUND(l.d, 12) AS DECIMAL(38,15))) AS DOUBLE) AS num,
       |    CAST(SUM(CAST(ROUND(l.cn2, 12) AS DECIMAL(38,15))) AS DOUBLE) AS vn2
       |  FROM pqenc e JOIN lut l ON l.sub = e.sub AND l.code = e.code
       |  WHERE e.vec_id <> l.query_id
       |  GROUP BY l.query_id, e.vec_id),
       |adcqn AS (
       |  SELECT q.vec_id AS query_id,
       |    sqrt((SELECT SUM(CAST(e AS DOUBLE)*CAST(e AS DOUBLE))
       |          FROM (SELECT unnest(q.embedding) e))) AS qn
       |  FROM embeddings q WHERE $queryPred),
       |adcranked AS (
       |  SELECT s.query_id, s.nn_id, s.num / (q.qn * sqrt(s.vn2)) AS cos,
       |         ROW_NUMBER() OVER (PARTITION BY s.query_id
       |           ORDER BY s.num / (q.qn * sqrt(s.vn2)) DESC, s.nn_id) AS rank
       |  FROM adcscore s JOIN adcqn q USING (query_id))""".stripMargin

  /** PQ chain: one sliced source + one [[trainCtes]] Lloyd chain per
    * subspace, plus the per-subspace argmax encoding — ends with
    * `pqenc(vec_id, sub, code)` and leaves each `s{j}_cent$iters`
    * codebook CTE available to downstream LUT CTEs.
    */
  private def pqCtes(m: Int, k: Int, iters: Int, dims: Int): String = {
    val w = dims / m
    val chains = (0 until m).map { j =>
      val lo = j * w + 1
      val hi = j * w + w
      s"""s${j}src AS (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM embeddings),
         |${trainCtes(k, iters, w, src = s"s${j}src", p = s"s${j}_")}""".stripMargin
    }.mkString(",\n")
    val encodes = (0 until m).map { j =>
      s"""  SELECT vec_id, $j AS sub, ci AS code FROM (
         |    SELECT vec_id, ci,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, ci DESC) AS rn
         |    FROM (SELECT e.vec_id, c.ci, ${oracleCosine("e.embedding", "c.cv")} AS cos
         |          FROM s${j}src e CROSS JOIN s${j}_cent$iters c)) WHERE rn = 1""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""$chains,
       |pqenc AS (
       |$encodes)""".stripMargin
  }

  /** PQ training chain restricted to `trainPred` rows — the
    * frozen-codebook index-append oracle: codebooks come from the
    * ORIGINAL build corpus only, while encode/serve CTEs downstream
    * (pqEncFixture / pqAdcChain) run over the full table. Ends with
    * `cb(sub, code, cv)` — the same contract as [[pqFixtureCb]], so
    * the fixture serving CTEs compose unchanged.
    */
  private def pqTrainOnCtes(m: Int, k: Int, iters: Int, dims: Int,
                            trainPred: String): String = {
    val w = dims / m
    val chains = (0 until m).map { j =>
      val lo = j * w + 1
      val hi = j * w + w
      s"""s${j}tr AS (SELECT vec_id, embedding[$lo:$hi] AS embedding
         |            FROM embeddings WHERE $trainPred),
         |${trainCtes(k, iters, w, src = s"s${j}tr", p = s"s${j}_")}""".stripMargin
    }.mkString(",\n")
    val cb = (0 until m)
      .map(j => s"  SELECT $j AS sub, ci AS code, cv FROM s${j}_cent$iters")
      .mkString("\n  UNION ALL\n")
    s"""$chains,
       |cb AS (
       |$cb)""".stripMargin
  }

  /** DuckDB replica of Similarity.trainIvfCentroids: unrolled Lloyd
    * iterations with the same deterministic recipe — md5-ordered init,
    * sequential-fold cosine argmax (ties to larger index), per-dim
    * DECIMAL(38,15) sums divided in double, empty clusters keeping
    * their previous centroid.
    */
  private def trainOracleSql(k: Int, iters: Int, dims: Int): String =
    s"""WITH ${trainCtes(k, iters, dims)},
       |expanded AS (
       |  SELECT ci, unnest(generate_series(1, $dims)) AS pos, cv FROM cent$iters)
       |SELECT CAST(ci AS BIGINT) AS cent_id, CAST(pos - 1 AS BIGINT) AS pos,
       |       ROUND(cv[pos], 6) AS v
       |FROM expanded ORDER BY cent_id, pos""".stripMargin

  /** Shared minhash CTE chain (shingle hashes, signatures, LSH bands,
    * candidate pairs, signature-agreement estimates) used by both the
    * pair query and the drop-near apply query.
    */
  private val minhashOracleCtes: String =
    s"""d AS (SELECT doc_id, $oracleToks AS toks FROM documents),
       |sh AS (SELECT doc_id, unnest($oracleShingles) AS s FROM d),
       |hashes AS (
       |  SELECT doc_id, (('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS h FROM sh),
       |sig AS (
       |  SELECT doc_id, seed, MIN(((2*seed + 1) * h + 1000003*seed + 12345) % 2147483647) AS sig
       |  FROM hashes, (SELECT unnest(generate_series(0, 15)) AS seed)
       |  GROUP BY doc_id, seed),
       |bandh AS (
       |  SELECT doc_id, seed // 4 AS band,
       |         md5(string_agg(CAST(sig AS VARCHAR), '|' ORDER BY seed)) AS band_hash
       |  FROM sig GROUP BY doc_id, seed // 4),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bandh x JOIN bandh y
       |    ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
       |est AS (
       |  SELECT c.id_a, c.id_b,
       |         CAST(SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS DOUBLE) / 16 AS est_jaccard
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.id_a
       |  JOIN sig sb ON sb.doc_id = c.id_b AND sb.seed = sa.seed
       |  GROUP BY c.id_a, c.id_b)""".stripMargin

  /** Bipartite minhash oracle chain (batch = non-src0 vs corpus =
    * src0), ending in `est(id_a, id_b, est_jaccard)` — shared by the
    * cross-pair dump and the drop apply. Signatures are per-doc and
    * corpus-independent, so one chain over all documents with source
    * filters at the candidate join matches the two-corpus Spark run.
    */
  private val crossMinhashCtes: String =
    s"""d AS (SELECT doc_id, source, $oracleToks AS toks FROM documents),
       |s2 AS (SELECT doc_id, source, $oracleShingles AS shs FROM d),
       |sh AS (SELECT doc_id, source, unnest(shs) AS s FROM s2),
       |hashes AS (
       |  SELECT doc_id, source, (('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS h FROM sh),
       |sig AS (
       |  SELECT doc_id, source, seed, MIN(((2*seed + 1) * h + 1000003*seed + 12345) % 2147483647) AS sig
       |  FROM hashes, (SELECT unnest(generate_series(0, 15)) AS seed)
       |  GROUP BY doc_id, source, seed),
       |bandh AS (
       |  SELECT doc_id, source, seed // 4 AS band,
       |         md5(string_agg(CAST(sig AS VARCHAR), '|' ORDER BY seed)) AS band_hash
       |  FROM sig GROUP BY doc_id, source, seed // 4),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bandh x JOIN bandh y ON x.band = y.band AND x.band_hash = y.band_hash
       |  WHERE x.source <> 'src0' AND y.source = 'src0'),
       |est AS (
       |  SELECT c.id_a, c.id_b,
       |         CAST(SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS DOUBLE) / 16 AS est_jaccard
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.id_a
       |  JOIN sig sb ON sb.doc_id = c.id_b AND sb.seed = sa.seed
       |  GROUP BY c.id_a, c.id_b)""".stripMargin

  /** DSIR oracle CTE chain (raw = non-src0, target = src0, B=1024),
    * ending in `agg(doc_id, n_grams, slw)` — shared by the weight
    * dump and the Gumbel-resample apply query.
    */
  private val dsirCtes: String =
    s"""tk AS (SELECT doc_id, source, $oracleToks AS toks FROM documents),
       |g AS (SELECT doc_id, source,
       |  list_concat(toks,
       |    CASE WHEN len(toks) >= 2
       |         THEN [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)]
       |         ELSE [] END) AS gs
       |  FROM tk),
       |e AS (SELECT doc_id, source,
       |  (('0x' || substr(md5(unnest(gs)), 1, 15))::BIGINT % 1024) AS b
       |  FROM g),
       |docb AS (SELECT doc_id, b, COUNT(*) AS c FROM e WHERE source <> 'src0' GROUP BY doc_id, b),
       |rawb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cr FROM docb GROUP BY b),
       |tgtb AS (SELECT b, COUNT(*) AS ct FROM e WHERE source = 'src0' GROUP BY b),
       |tot AS (SELECT (SELECT CAST(SUM(cr) AS BIGINT) FROM rawb) AS tr,
       |               (SELECT CAST(SUM(ct) AS BIGINT) FROM tgtb) AS tt),
       |contrib AS (
       |  SELECT d.doc_id, d.c,
       |    CAST(ROUND(d.c * (ln((COALESCE(t.ct, 0) + 1.0) / (tot.tt + 1024))
       |                    - ln((r.cr + 1.0) / (tot.tr + 1024))), 12) AS DECIMAL(38,15)) AS lw
       |  FROM docb d JOIN rawb r USING (b) LEFT JOIN tgtb t USING (b) CROSS JOIN tot),
       |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
       |               CAST(SUM(lw) AS DOUBLE) AS slw
       |        FROM contrib GROUP BY doc_id)""".stripMargin

  /** Unrolled-GD logistic-regression oracle: the same feature
    * hashing, 12-dp-rounded DECIMAL(38,15)-exact sums and per-step
    * weight re-rounding as ops/Classifier, one CTE trio
    * (margin/error/gradient → weights) per step, ending in
    * `w$steps(f, w)` and the final-margin table `mf(doc_id, y, marg)`.
    */
  private def logRegCtes(dims: Int, steps: Int, lr: Double): String = {
    val b = new StringBuilder
    b ++= s"""tk AS (SELECT doc_id,
             |  CAST(CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS DOUBLE) AS y,
             |  $oracleToks AS toks FROM documents),
             |dbx AS (SELECT doc_id, y, CAST(len(toks) AS BIGINT) AS n,
             |  (('0x' || substr(md5(unnest(toks)), 1, 15))::BIGINT % $dims) AS b
             |  FROM tk WHERE len(toks) > 0),
             |db AS (SELECT doc_id, y, n, b, COUNT(*) AS c FROM dbx GROUP BY doc_id, y, n, b),
             |w0 AS (SELECT CAST(NULL AS BIGINT) AS f, CAST(NULL AS DOUBLE) AS w WHERE FALSE)""".stripMargin
    for (i <- 1 to steps) {
      val p = s"w${i - 1}"
      b ++= s""",
               |m$i AS (SELECT d.doc_id, d.y,
               |  CAST(SUM(CAST(ROUND(d.c / d.n * COALESCE(w.w, 0), 12) AS DECIMAL(38,15))) AS DOUBLE)
               |    + (SELECT COALESCE(MAX(w), 0) FROM $p WHERE f = -1) AS marg
               |  FROM db d LEFT JOIN $p w ON d.b = w.f GROUP BY d.doc_id, d.y),
               |e$i AS (SELECT doc_id, ROUND(y - 1 / (1 + exp(-marg)), 12) AS err FROM m$i),
               |g$i AS (SELECT d.b AS f,
               |    CAST(SUM(CAST(ROUND(e.err * d.c / d.n, 12) AS DECIMAL(38,15))) AS DOUBLE)
               |      / (SELECT COUNT(*) FROM e$i) AS g
               |  FROM e$i e JOIN db d USING (doc_id) GROUP BY d.b
               |  UNION ALL
               |  SELECT -1, CAST(SUM(CAST(err AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) FROM e$i),
               |w$i AS (SELECT g.f, ROUND(COALESCE(p.w, 0) + $lr * g.g, 12) AS w
               |  FROM g$i g LEFT JOIN $p p ON g.f = p.f)""".stripMargin
    }
    b ++= s""",
             |mf AS (SELECT d.doc_id, d.y,
             |  CAST(SUM(CAST(ROUND(d.c / d.n * COALESCE(w.w, 0), 12) AS DECIMAL(38,15))) AS DOUBLE)
             |    + (SELECT COALESCE(MAX(w), 0) FROM w$steps WHERE f = -1) AS marg
             |  FROM db d LEFT JOIN w$steps w ON d.b = w.f GROUP BY d.doc_id, d.y)""".stripMargin
    b.toString
  }

  private val LrDims = 128
  private val LrSteps = 3
  private val LrRate = 5.0

  val queries: Seq[Q] = Seq(

    // ── text analysis ──────────────────────────────────────────────

    Q("text_token_stats",
      (s, dir) => {
        Tables.registerAll(s, dir)
        // fused one-pass kernel (TokenStatsExpr); TextPropertySpec pins
        // it bit-identical to the declarative qualityColumns bundle
        s.table("documents")
          .select(col("doc_id"), TextAnalysis.tokenStats(col("text")).as("_ts"))
          .select(col("doc_id"),
            col("_ts.n_tokens").as("n_tokens"),
            col("_ts.n_subwords_est").as("n_subwords_est"),
            col("_ts.q_chars").as("q_chars"),
            col("_ts.n_tokens").as("q_tokens"),
            col("_ts.q_avg_token_len").as("q_avg_token_len"),
            col("_ts.q_stopword_ratio").as("q_stopword_ratio"),
            col("_ts.q_distinct_ratio").as("q_distinct_ratio"),
            col("_ts.q_punct_ratio").as("q_punct_ratio"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, text, $oracleToks AS toks FROM documents)
              |SELECT doc_id,
              |  CAST(len(toks) AS BIGINT) AS n_tokens,
              |  CAST(list_sum(list_transform(toks, t -> CAST(ceil(CAST(len(t) AS DOUBLE) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords_est,
              |  CAST(len(text) AS BIGINT) AS q_chars,
              |  CAST(len(toks) AS BIGINT) AS q_tokens,
              |  CAST(len(text) AS DOUBLE) / GREATEST(CAST(len(toks) AS DOUBLE), 1.0) AS q_avg_token_len,
              |  CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','that','it','for'))) AS DOUBLE)
              |    / GREATEST(CAST(len(toks) AS DOUBLE), 1.0) AS q_stopword_ratio,
              |  CAST(len(list_distinct(toks)) AS DOUBLE) / GREATEST(CAST(len(toks) AS DOUBLE), 1.0) AS q_distinct_ratio,
              |  CAST(len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
              |    / GREATEST(CAST(len(text) AS DOUBLE), 1.0) AS q_punct_ratio
              |FROM d ORDER BY doc_id""".stripMargin)),

    Q("text_lang_id",
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.table("documents")
          .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
          .orderBy(col("doc_id"))
      },
      // argmax with ties → lexicographically-last language (struct
      // greatest semantics); langs sorted: de, en, es, fr
      Some(s"""WITH d AS (SELECT doc_id, $oracleToks AS toks FROM documents),
              |scored AS (SELECT doc_id,
              |  len(list_filter(toks, t -> t IN ('der','die','das','und','ist','ein','eine','zu','mit','von'))) AS s_de,
              |  len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','that','it','for'))) AS s_en,
              |  len(list_filter(toks, t -> t IN ('el','la','los','las','y','es','un','una','de','en'))) AS s_es,
              |  len(list_filter(toks, t -> t IN ('le','la','les','et','est','un','une','de','dans','pour'))) AS s_fr
              |  FROM d)
              |SELECT doc_id, CASE
              |  WHEN GREATEST(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
              |  WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
              |  WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
              |  WHEN s_en >= s_de THEN 'en'
              |  ELSE 'de' END AS lang_pred
              |FROM scored ORDER BY doc_id""".stripMargin)),

    Q("text_tfidf_topk",
      (s, dir) => {
        Tables.registerAll(s, dir)
        TextAnalysis.tfIdfTopTerms(s.table("documents"), "doc_id", "text", k = 5)
          .orderBy(col("doc_id"), col("rank"))
      },
      // same smoothed idf = ln((1+N)/(1+df)) + 1; both sides round the
      // score to 6 dp BEFORE the rank window so a last-ulp ln
      // divergence cannot flip a rank (term breaks exact ties)
      Some(s"""WITH d AS (SELECT doc_id,
              |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) >= 2) AS toks
              |  FROM documents),
              |tfc AS (
              |  SELECT doc_id, term, COUNT(*) AS tf
              |  FROM (SELECT doc_id, unnest(toks) AS term FROM d)
              |  GROUP BY doc_id, term),
              |dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY term),
              |n AS (SELECT COUNT(*) AS n FROM documents),
              |scored AS (
              |  SELECT t.doc_id, t.term,
              |         ROUND(t.tf * (ln((1.0 + n.n) / (1.0 + f.df)) + 1.0), 6) AS score
              |  FROM tfc t JOIN dfc f USING (term) CROSS JOIN n),
              |ranked AS (
              |  SELECT doc_id, term, score,
              |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
              |  FROM scored)
              |SELECT doc_id, term, score, CAST(rank AS BIGINT) AS rank
              |FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin)),

    Q("text_lm_perplexity",
      (s, dir) => {
        Tables.registerAll(s, dir)
        TextAnalysis.lmPerplexity(s.table("documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      // doc×term contributions round to 12 dp and sum as DECIMAL —
      // exact and order-independent — so partial-agg order can't
      // change the sum; one final double cast rounds to 6 dp
      Some(s"""WITH d AS (SELECT doc_id, $oracleToks AS toks FROM documents),
              |tfc AS (
              |  SELECT doc_id, term, COUNT(*) AS tf
              |  FROM (SELECT doc_id, unnest(toks) AS term FROM d)
              |  GROUP BY doc_id, term),
              |vocab AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tfc GROUP BY term),
              |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t_total, COUNT(*) AS v_size FROM vocab),
              |contrib AS (
              |  SELECT t.doc_id, t.tf,
              |         CAST(ROUND(t.tf * ln((v.cnt + 1.0) / (tot.t_total + tot.v_size)), 12) AS DECIMAL(38,15)) AS lp
              |  FROM tfc t JOIN vocab v USING (term) CROSS JOIN tot),
              |agg AS (
              |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens, CAST(SUM(lp) AS DOUBLE) AS slp
              |  FROM contrib GROUP BY doc_id)
              |SELECT doc_id, n_tokens,
              |       ROUND(-slp / n_tokens, 6) AS avg_nll,
              |       ROUND(exp(-slp / n_tokens), 6) AS ppl
              |FROM agg ORDER BY doc_id""".stripMargin)),

    Q("text_top_ngrams",
      (s, dir) => {
        Tables.registerAll(s, dir)
        TextAnalysis.topNgrams(s.table("documents"), "doc_id", "text", n = 3, k = 20)
      },
      // non-deduped shingles (the kernel's dedup=false mode): the <n
      // fallback joins all tokens, so an empty doc contributes ''
      Some(s"""WITH d AS (SELECT doc_id, $oracleToks AS toks FROM documents),
              |g AS (SELECT doc_id, unnest(
              |  CASE WHEN len(toks) >= 3
              |       THEN [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks) - 2)]
              |       ELSE [array_to_string(toks, ' ')] END) AS gram FROM d),
              |t AS (SELECT gram, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
              |      FROM g GROUP BY gram)
              |SELECT gram, CAST(n_occurrences AS BIGINT) AS n_occurrences,
              |       CAST(n_docs AS BIGINT) AS n_docs
              |FROM t ORDER BY n_occurrences DESC, gram LIMIT 20""".stripMargin)),

    // sliding-window passage chunking (RAG/embedding prep): 32-token
    // windows every 24 tokens — pure map side, zero shuffle
    Q("text_chunk_passages",
      (s, dir) => {
        Tables.registerAll(s, dir)
        TextAnalysis.chunkPassages(s.table("documents"), "doc_id", "text",
            chunkSize = 32, stride = 24)
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, $oracleToks AS toks FROM documents),
              |s AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, 24)) AS start
              |      FROM d WHERE len(toks) > 0)
              |SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_id,
              |       CAST(len(toks[start + 1:start + 32]) AS BIGINT) AS n_tokens,
              |       array_to_string(toks[start + 1:start + 32], ' ') AS chunk_text
              |FROM s ORDER BY doc_id, chunk_id""".stripMargin)),

    // the REAL HTML-extraction path under the oracle: a full HTML
    // page (head/title/style/script/comment/headings/lists/anchor +
    // named, numeric and hex entities) is synthesized per document
    // from its own tokens — identically in both engines — then Spark
    // extracts through the one-pass native kernel while DuckDB
    // replays the declarative regexp chain the kernel is contracted
    // to (script/style/comment strip → block tags → chr(1) → tag
    // strip → entity decode with &amp; last → per-block collapse/
    // trim/drop/join). Text, line count, text share and the
    // anchor-text link density must all hash-match.
    Q("text_extract_html",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val id = col("doc_id").cast("string")
        val toks = split(col("text"), " ")
        def w(i: Int) =
          element_at(toks, (pmod(col("doc_id") + i, size(toks)) + 1).cast("int"))
        val html = concat(
          lit("<html><head><title>Doc "), id, lit("</title>"),
          lit("<style type=\"text/css\">p { color: #aaa; } .x"),
          pmod(col("doc_id"), lit(7)).cast("string"), lit(" > li { margin: 0 }</style>"),
          lit("<script type=\"text/javascript\">var n = "), id,
          lit("; if (n > 2 && n < 99) { document.write(\"<b>skip</b>\"); }</script>"),
          lit("</head><body>"),
          lit("<!-- build "), id, lit(" -->"),
          lit("<h1 class=\"t\">"), w(0), lit(" &amp; "), w(1), lit("</h1>"),
          lit("<p>"), array_join(slice(toks, 1, 10), " "), lit("</p>"),
          lit("<div id=\"c"), id, lit("\"><p>"), array_join(slice(toks, 5, 8), " "),
          lit(" &lt;"), w(2), lit("&gt; &#65;&#x42;</p>"),
          lit("<ul><li>"), w(3), lit("</li>"),
          lit("<li>"), w(4), lit(" &nbsp; "), w(5), lit("</li></ul>"),
          lit("<p>Visit <a href=\"/d/"), id, lit("?q="), w(6), lit("\">"),
          w(6), lit(" "), w(7), lit("</a> now.</p>"),
          lit("</div></body></html>"))
        // pre-synthesis repartition: the corpus is one parquet file =
        // one input partition, and the kernel walk would serialize
        val pages = s.table("documents").repartition(32, col("doc_id"))
          .select(col("doc_id"), html.as("html"))
        TextAnalysis.extractHtmlTable(pages, "doc_id", "html")
          .select(col("doc_id"), col("html_text"), col("html_n_lines"),
            round(col("html_text_share"), 6).as("html_text_share"),
            round(col("html_link_density"), 6).as("html_link_density"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |hh AS (SELECT doc_id,
             |  '<html><head><title>Doc ' || doc_id || '</title>'
             |  || '<style type="text/css">p { color: #aaa; } .x' || (doc_id % 7) || ' > li { margin: 0 }</style>'
             |  || '<script type="text/javascript">var n = ' || doc_id || '; if (n > 2 && n < 99) { document.write("<b>skip</b>"); }</script>'
             |  || '</head><body>'
             |  || '<!-- build ' || doc_id || ' -->'
             |  || '<h1 class="t">' || toks[CAST(doc_id % len(toks) AS INT) + 1] || ' &amp; ' || toks[CAST((doc_id + 1) % len(toks) AS INT) + 1] || '</h1>'
             |  || '<p>' || array_to_string(toks[1:10], ' ') || '</p>'
             |  || '<div id="c' || doc_id || '"><p>' || array_to_string(toks[5:12], ' ') || ' &lt;' || toks[CAST((doc_id + 2) % len(toks) AS INT) + 1] || '&gt; &#65;&#x42;</p>'
             |  || '<ul><li>' || toks[CAST((doc_id + 3) % len(toks) AS INT) + 1] || '</li>'
             |  || '<li>' || toks[CAST((doc_id + 4) % len(toks) AS INT) + 1] || ' &nbsp; ' || toks[CAST((doc_id + 5) % len(toks) AS INT) + 1] || '</li></ul>'
             |  || '<p>Visit <a href="/d/' || doc_id || '?q=' || toks[CAST((doc_id + 6) % len(toks) AS INT) + 1] || '">' || toks[CAST((doc_id + 6) % len(toks) AS INT) + 1] || ' ' || toks[CAST((doc_id + 7) % len(toks) AS INT) + 1] || '</a> now.</p>'
             |  || '</div></body></html>' AS html
             |  FROM tk),
             |c1 AS (SELECT doc_id, html, regexp_replace(html, '(?is)<script\b[^>]*>.*?</script[ \t\n\r\f]*>', ' ', 'g') AS s FROM hh),
             |c2 AS (SELECT doc_id, html, regexp_replace(s, '(?is)<style\b[^>]*>.*?</style[ \t\n\r\f]*>', ' ', 'g') AS s FROM c1),
             |c3 AS (SELECT doc_id, html, regexp_replace(s, '(?s)<!--.*?-->', ' ', 'g') AS s FROM c2),
             |c4 AS (SELECT doc_id, html, s AS s3, regexp_replace(s, '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|blockquote|pre|section|article|header|footer|title|head|body|html)\b[^>]*>', chr(1), 'g') AS s FROM c3),
             |c5 AS (SELECT doc_id, html, s3, regexp_replace(s, '<[^>]*>', ' ', 'g') AS s FROM c4),
             |e1 AS (SELECT doc_id, html, s3,
             |  replace(replace(replace(replace(replace(replace(s,
             |    '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '), '&#65;', 'A'), '&#x42;', 'B'), '&amp;', '&') AS s
             |  FROM c5),
             |bl AS (SELECT doc_id, html, s3,
             |  list_filter(list_transform(string_split(s, chr(1)),
             |    x -> trim(regexp_replace(x, '[ \t\n\r\f]+', ' ', 'g'))), x -> x <> '') AS ls
             |  FROM e1),
             |tx AS (SELECT doc_id, html, s3, array_to_string(ls, chr(10)) AS txt, len(ls) AS nl FROM bl),
             |an AS (SELECT doc_id, html, txt, nl,
             |  COALESCE(list_sum(list_transform(
             |    regexp_extract_all(s3, '(?is)<a\b[^>]*>(.*?)</a[ \t\n\r\f]*>', 1),
             |    a -> len(regexp_replace(
             |      replace(replace(replace(replace(replace(replace(regexp_replace(a, '<[^>]*>', ' ', 'g'),
             |        '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '), '&#65;', 'A'), '&#x42;', 'B'), '&amp;', '&'),
             |      '[ \t\n\r\f]', '', 'g')))), 0) AS link_nonws
             |  FROM tx)
             |SELECT doc_id, txt AS html_text, CAST(nl AS BIGINT) AS html_n_lines,
             |  ROUND(CAST(len(txt) AS DOUBLE) / len(html), 6) AS html_text_share,
             |  ROUND(CAST(link_nonws AS DOUBLE) / NULLIF(len(regexp_replace(txt, '[ \n]', '', 'g')), 0), 6) AS html_link_density
             |FROM an ORDER BY doc_id""".stripMargin)),

    // URL parse + normalize + registrable-domain screen — the other
    // front-door op next to text_extract_html. URLs are synthesized
    // per doc from its own tokens in BOTH engines (8 deterministic
    // shapes: www hosts, co.uk + explicit port, uppercase + userinfo,
    // IPv4, non-http scheme, a NON-URL arm, default-port https, empty
    // path); DuckDB replays the full parse/normalize contract as a
    // regexp/list CTE chain.
    Q("text_url_parse",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val id = col("doc_id").cast("string")
        val toks = split(col("text"), " ")
        def w(i: Int) =
          element_at(toks, (pmod(col("doc_id") + i, size(toks)) + 1).cast("int"))
        val k = pmod(col("doc_id"), lit(8))
        val url =
          when(k === 0, concat(lit("https://www."), w(0), lit(".com/"), w(1),
            lit("/"), w(2), lit("?q="), w(3), lit("&utm_source="), w(4), lit("#frag")))
          .when(k === 1, concat(lit("http://"), w(0),
            lit(".co.uk:8080/a/b/c?utm_campaign=x&id="), id))
          .when(k === 2, concat(lit("HTTPS://user:pw@"), upper(w(0)),
            lit(".ORG/Path/"), w(1)))
          .when(k === 3, concat(lit("http://192.168."),
            pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
            pmod(col("doc_id") * 7, lit(256)).cast("string"), lit("/x?gclid=z&a=1&b=2")))
          .when(k === 4, concat(lit("ftp://files."), w(0), lit(".net/pub/"), w(1)))
          .when(k === 5, concat(w(0), lit(" "), w(1)))
          .when(k === 6, concat(lit("https://"), w(0), lit(".com:443/"), w(1),
            lit("?fbclid=q&x="), w(2)))
          .otherwise(concat(lit("http://"), w(0), lit(".com")))
        val urls = s.table("documents").repartition(32, col("doc_id"))
          .select(col("doc_id"), url.as("url"))
        TextAnalysis.urlTable(urls, "doc_id", "url").orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |u AS (SELECT doc_id, CASE CAST(doc_id % 8 AS INT)
             |  WHEN 0 THEN 'https://www.' || toks[CAST(doc_id % len(toks) AS INT) + 1] || '.com/' || toks[CAST((doc_id + 1) % len(toks) AS INT) + 1] || '/' || toks[CAST((doc_id + 2) % len(toks) AS INT) + 1] || '?q=' || toks[CAST((doc_id + 3) % len(toks) AS INT) + 1] || '&utm_source=' || toks[CAST((doc_id + 4) % len(toks) AS INT) + 1] || '#frag'
             |  WHEN 1 THEN 'http://' || toks[CAST(doc_id % len(toks) AS INT) + 1] || '.co.uk:8080/a/b/c?utm_campaign=x&id=' || doc_id
             |  WHEN 2 THEN 'HTTPS://user:pw@' || upper(toks[CAST(doc_id % len(toks) AS INT) + 1]) || '.ORG/Path/' || toks[CAST((doc_id + 1) % len(toks) AS INT) + 1]
             |  WHEN 3 THEN 'http://192.168.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || '/x?gclid=z&a=1&b=2'
             |  WHEN 4 THEN 'ftp://files.' || toks[CAST(doc_id % len(toks) AS INT) + 1] || '.net/pub/' || toks[CAST((doc_id + 1) % len(toks) AS INT) + 1]
             |  WHEN 5 THEN toks[CAST(doc_id % len(toks) AS INT) + 1] || ' ' || toks[CAST((doc_id + 1) % len(toks) AS INT) + 1]
             |  WHEN 6 THEN 'https://' || toks[CAST(doc_id % len(toks) AS INT) + 1] || '.com:443/' || toks[CAST((doc_id + 1) % len(toks) AS INT) + 1] || '?fbclid=q&x=' || toks[CAST((doc_id + 2) % len(toks) AS INT) + 1]
             |  ELSE 'http://' || toks[CAST(doc_id % len(toks) AS INT) + 1] || '.com' END AS url FROM tk),
             |p AS (SELECT doc_id, url,
             |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
             |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pth,
             |  regexp_extract(url, '^[^?#]*\?([^#]*)', 1) AS q FROM u),
             |h AS (SELECT *, regexp_extract(auth, '([^@]*)\z', 1) AS hostport FROM p),
             |h2 AS (SELECT *, lower(regexp_extract(hostport, '^([^:]*)', 1)) AS hst,
             |  regexp_extract(hostport, ':([0-9]+)\z', 1) AS prt FROM h),
             |d AS (SELECT *, string_split(hst, '.') AS ls,
             |  list_filter(string_split(q, '&'), x -> x <> '' AND NOT regexp_matches(x, '^(utm_[a-zA-Z0-9_]*|gclid|fbclid|msclkid)(=.*)?\z')) AS kept
             |  FROM h2),
             |d2 AS (SELECT *, CASE
             |  WHEN regexp_matches(hst, '^[0-9.]+\z') OR len(ls) <= 2 THEN hst
             |  WHEN list_contains(['co','com','org','net','ac','gov','edu'], ls[len(ls)-1])
             |    THEN ls[len(ls)-2] || '.' || ls[len(ls)-1] || '.' || ls[len(ls)]
             |  ELSE ls[len(ls)-1] || '.' || ls[len(ls)] END AS dom FROM d)
             |SELECT doc_id, url, scheme,
             |  CASE WHEN scheme <> '' THEN hst ELSE '' END AS host,
             |  CASE WHEN scheme <> '' THEN dom ELSE '' END AS domain,
             |  CASE WHEN scheme <> '' THEN prt ELSE '' END AS port,
             |  CAST(CASE WHEN scheme <> '' THEN len(list_filter(string_split(pth, '/'), x -> x <> '')) ELSE 0 END AS BIGINT) AS path_depth,
             |  CAST(CASE WHEN scheme <> '' THEN len(kept) ELSE 0 END AS BIGINT) AS n_params,
             |  CASE WHEN scheme <> '' THEN scheme || '://' || hst ||
             |    (CASE WHEN prt = '' OR (scheme = 'http' AND prt = '80') OR (scheme = 'https' AND prt = '443') THEN '' ELSE ':' || prt END) ||
             |    (CASE WHEN pth = '' THEN '/' ELSE pth END) ||
             |    (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END)
             |  ELSE '' END AS norm_url
             |FROM d2 ORDER BY doc_id""".stripMargin)),

    // WARC container ingestion — the step BEFORE the web front door:
    // multi-record WARC containers (2–3 records each: a warcinfo head
    // + conversion records) are synthesized per document from its own
    // tokens IDENTICALLY in both engines (the BMP/WAV/GIF recipe),
    // then Spark splits them through the native warc_records kernel
    // (header parse + Content-Length octet slice) while DuckDB
    // replays the split by string-slicing on the CRLFCRLF record
    // grammar and regexp-extracting the headers. Types, URIs, record
    // ids, declared lengths, payloads and flags must all hash-match.
    Q("text_warc_parse",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val id = col("doc_id").cast("string")
        val toks = split(col("text"), " ")
        def pay(r: org.apache.spark.sql.Column) = concat(
          lit("rec "), r.cast("string"), lit(" of doc "), id, lit(": "),
          array_join(slice(toks, r * 3 + 1, lit(6)), " "))
        def rec(r: org.apache.spark.sql.Column) = concat(
          lit("WARC/1.0\r\nWARC-Type: "),
          when(r === 0, lit("warcinfo")).otherwise(lit("conversion")),
          lit("\r\nWARC-Target-URI: http://ex"), id, lit(".com/p/"), r.cast("string"),
          lit("\r\nWARC-Record-ID: <urn:uuid:"), id, lit("-"), r.cast("string"),
          lit(">\r\nContent-Length: "), length(pay(r)).cast("string"),
          lit("\r\n\r\n"), pay(r), lit("\r\n\r\n"))
        val warc = array_join(
          transform(sequence(lit(0), pmod(col("doc_id"), lit(2)).cast("int") + 1),
            r => rec(r)), "")
        // pre-synthesis repartition: one parquet file = one input
        // partition, and the kernel walk would serialize
        val containers = s.table("documents").repartition(32, col("doc_id"))
          .select(col("doc_id"), warc.as("warc"))
        TextAnalysis.warcRecordsTable(containers, "doc_id", "warc")
          .orderBy(col("doc_id"), col("rec_idx"))
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |rr AS (SELECT doc_id, toks, unnest(generate_series(0, CAST(doc_id % 2 AS INT) + 1)) AS r FROM tk),
             |py AS (SELECT doc_id, r,
             |  'rec ' || r || ' of doc ' || doc_id || ': ' ||
             |    array_to_string(toks[CAST(r*3+1 AS INT):CAST(r*3+6 AS INT)], ' ') AS pay
             |  FROM rr),
             |rc AS (SELECT doc_id, r,
             |  'WARC/1.0' || chr(13)||chr(10) ||
             |  'WARC-Type: ' || (CASE WHEN r = 0 THEN 'warcinfo' ELSE 'conversion' END) || chr(13)||chr(10) ||
             |  'WARC-Target-URI: http://ex' || doc_id || '.com/p/' || r || chr(13)||chr(10) ||
             |  'WARC-Record-ID: <urn:uuid:' || doc_id || '-' || r || '>' || chr(13)||chr(10) ||
             |  'Content-Length: ' || len(pay) || chr(13)||chr(10) || chr(13)||chr(10) ||
             |  pay || chr(13)||chr(10) || chr(13)||chr(10) AS rec
             |  FROM py),
             |wc AS (SELECT doc_id, string_agg(rec, '' ORDER BY r) AS warc FROM rc GROUP BY doc_id),
             |sp AS (SELECT doc_id, string_split(warc, chr(13)||chr(10)||chr(13)||chr(10)) AS parts FROM wc),
             |ix AS (SELECT doc_id, parts, unnest(generate_series(0, (len(parts) - 1) // 2 - 1)) AS ri FROM sp),
             |r2 AS (SELECT doc_id, ri, parts[CAST(2*ri+1 AS INT)] AS hdr, parts[CAST(2*ri+2 AS INT)] AS pay FROM ix)
             |SELECT doc_id, CAST(ri AS BIGINT) AS rec_idx,
             |  regexp_extract(hdr, 'WARC-Type: ([^\x0d\x0a]*)', 1) AS warc_type,
             |  regexp_extract(hdr, 'WARC-Target-URI: ([^\x0d\x0a]*)', 1) AS target_uri,
             |  regexp_extract(hdr, 'WARC-Record-ID: ([^\x0d\x0a]*)', 1) AS record_id,
             |  CAST(regexp_extract(hdr, 'Content-Length: ([0-9]+)', 1) AS BIGINT) AS content_length,
             |  pay AS text, FALSE AS truncated
             |FROM r2 ORDER BY doc_id, rec_idx""".stripMargin)),

    // the COMPOSED web ingest — the production pipeline front to
    // back, decomposed across two shards: HTML extraction + markup
    // screen → URL normalize + URL-level exact dedup (url index) →
    // quality gate → exact-digest dedup (digest index) → Bloom
    // decontamination → line-level dedup (line index) → span cut
    // (span index), each cross-shard fact living in its persisted
    // index. HTML pages and URLs are synthesized per doc identically
    // in both engines: a shared nav-bar line + the doc text as the
    // content line (1-in-17 docs are script shells that must die at
    // the text-share screen), and 1-in-3 docs carry a colliding
    // canonical URL (same norm_url modulo tracking params). The
    // oracle replays the FULL-BATCH composed rule in SQL — analytic
    // extraction (the synthesis makes extracted text constructible),
    // min-doc URL/digest groups, the contamination CTE, the
    // corpus-global line rule, then the batch span formula — so
    // equality IS the decomposition proof that two incremental
    // ingestShard calls equal one batch pass. The near-dup stage runs
    // threshold-disabled (1.5) here: its own corpus-wide SQL replay
    // is dedup_incremental's row, and its seam in THIS composition is
    // proven by IngestPipelineSpec's leak matrix + the sf1 StreamGate.
    Q("pipeline_curate_web",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        val bench = docs.where(col("source") === "src0")
        val id = col("doc_id").cast("string")
        val shell = pmod(col("doc_id"), lit(17)) === 3
        val html = when(shell, concat(
            lit("<html><body><script>var n = 0; // " + ("pad " * 50)),
            lit("</script><p>tiny</p></body></html>")))
          .otherwise(concat(
            lit("<html><body><p>SHARED NAV BAR</p><p>"), col("text"),
            lit(" more info</p></body></html>")))
        val url = when(pmod(col("doc_id"), lit(3)) === 0, concat(
            lit("http://dup"), pmod(col("doc_id"), lit(11)).cast("string"),
            lit(".com/x?gclid="), id))
          .otherwise(concat(
            lit("http://u"), id, lit(".site.com/p/"),
            pmod(col("doc_id"), lit(5)).cast("string"), lit("?utm_source=z")))
        // pre-synthesis repartition: single-file corpus, kernel walks
        val corpus = docs.where(col("source") =!= "src0")
          .repartition(32, col("doc_id"))
          .select(col("doc_id"), html.as("html"), url.as("url"), col("source"))
        val maxId = docs.agg(max(col("doc_id"))).head().get(0)
        if (maxId == null) {
          docs.selectExpr("doc_id", "source", "'' AS clean_text",
            "CAST(0 AS BIGINT) AS n_tokens").where(lit(false))
        } else {
          val bnd = maxId.asInstanceOf[Long] * 3 / 5
          val base = graft.ops.TableWrite.scratchDir("graft_web_pipe")
          // multi-shard composition hooks (r16): ONE bench-side Bloom
          // build shared by both shards (forked — it overlaps shard
          // 1's front door), shard 2's front-door kernel forked so it
          // overlaps shard 1's ingest (per-doc deterministic, no index
          // read), and one shared barrier so shard 1's later-stage
          // appends overlap shard 2's front door; the final await
          // before returning re-establishes the sequential index state
          val barrier = new graft.ops.AppendBarrier
          val bloom = graft.ops.Concurrent.forkValue(
            graft.ops.Decontaminate.prepareBloom(bench, "text", 3, 1L << 20, 0.03))
          val front1 = graft.ops.Concurrent.forkValue(
            graft.ops.IngestPipeline.pinnedFrontDoor(
              corpus.where(col("doc_id") <= bnd), htmlCol = Some("html")))
          val front2 = graft.ops.Concurrent.forkValue(
            graft.ops.IngestPipeline.pinnedFrontDoor(
              corpus.where(col("doc_id") > bnd), htmlCol = Some("html")))
          def run(shard: org.apache.spark.sql.DataFrame,
                  front: Option[org.apache.spark.sql.DataFrame]) =
            graft.ops.IngestPipeline.ingestShard(shard, bench,
              s"$base/digest", s"$base/minhash", s"$base/span",
              threshold = 1.5, spanN = 8, decontamN = 3, decontamMinHits = 2,
              htmlCol = Some("html"), urlCol = Some("url"),
              urlIndexPath = Some(s"$base/url"),
              lineIndexPath = Some(s"$base/line"),
              preparedBloom = Some(bloom), pinnedFront = front,
              externalBarrier = Some(barrier))
          // join the forks before propagating a failure (the
          // ingestShard failure contract, applied at the composition site)
          graft.ops.Concurrent.joinOnFailure(() => barrier.await(), front1, front2, bloom) {
            val s1 = run(corpus.where(col("doc_id") <= bnd), Some(front1()))
            val s2 = run(corpus.where(col("doc_id") > bnd), Some(front2()))
            barrier.await()
            s1.union(s2).orderBy(col("doc_id"))
          }
        }
      },
      Some("""WITH src AS (
             |  SELECT doc_id, text, source FROM documents
             |  WHERE source <> 'src0' AND doc_id % 17 <> 3),
             |ex AS (SELECT doc_id, source,
             |  'SHARED NAV BAR' || chr(10) || text || ' more info' AS xt,
             |  CASE WHEN doc_id % 3 = 0 THEN 'http://dup' || (doc_id % 11) || '.com/x'
             |       ELSE 'http://u' || doc_id || '.site.com/p/' || (doc_id % 5) END AS nu
             |  FROM src),
             |uk AS (SELECT ex.* FROM ex
             |  JOIN (SELECT nu, MIN(doc_id) AS m FROM ex GROUP BY nu) g
             |    ON ex.nu = g.nu AND ex.doc_id = g.m),
             |tq AS (SELECT doc_id, source, xt,
             |  list_filter(string_split_regex(lower(xt), '[^a-z0-9]+'), t -> t <> '') AS toks
             |  FROM uk),
             |q AS (SELECT * FROM tq
             |  WHERE len(toks) >= 25
             |    AND CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / GREATEST(len(toks), 1) <= 0.55),
             |e AS (SELECT q.* FROM q
             |  JOIN (SELECT md5(xt) AS h, MIN(doc_id) AS m FROM q GROUP BY 1) k
             |    ON md5(q.xt) = k.h AND q.doc_id = k.m),
             |bt AS (SELECT doc_id,
             |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
             |  FROM documents WHERE source = 'src0'),
             |bg AS (SELECT DISTINCT unnest(CASE WHEN len(toks) >= 3
             |  THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks) - 2)])
             |  ELSE [array_to_string(toks, ' ')] END) AS gram FROM bt),
             |dg AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
             |  THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks) - 2)])
             |  ELSE [array_to_string(toks, ' ')] END) AS gram FROM e),
             |contam AS (SELECT dg.doc_id FROM dg JOIN bg USING (gram)
             |  GROUP BY dg.doc_id HAVING COUNT(*) >= 2),
             |c AS (SELECT * FROM e WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
             |mn AS (SELECT MIN(doc_id) AS m FROM c),
             |lc AS (SELECT doc_id, source,
             |  CASE WHEN doc_id = (SELECT m FROM mn) THEN xt
             |       ELSE string_split(xt, chr(10))[2] END AS lt
             |  FROM c),
             |d2 AS (SELECT doc_id, source,
             |  list_filter(string_split_regex(lower(lt), '[^a-z0-9]+'), t -> t <> '') AS toks
             |  FROM lc),
             |p AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
             |      FROM d2 WHERE len(toks) >= 8),
             |g2 AS (SELECT doc_id, i - 1 AS gpos, array_to_string(toks[i:i+7], ' ') AS gram FROM p),
             |dup AS (SELECT gram FROM g2 GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
             |h AS (SELECT doc_id, gpos FROM g2 JOIN dup USING (gram)),
             |lg AS (SELECT doc_id, gpos,
             |       LAG(gpos) OVER (PARTITION BY doc_id ORDER BY gpos) AS pg FROM h),
             |w AS (SELECT doc_id, gpos,
             |      CASE WHEN pg IS NULL OR gpos > pg + 8 THEN 1 ELSE 0 END AS ni FROM lg),
             |isl AS (SELECT doc_id, gpos,
             |        SUM(ni) OVER (PARTITION BY doc_id ORDER BY gpos ROWS UNBOUNDED PRECEDING) AS island
             |        FROM w),
             |sp2 AS (SELECT doc_id, MIN(gpos) AS s, MAX(gpos) + 7 AS e FROM isl GROUP BY doc_id, island),
             |cov AS (SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM sp2),
             |t2 AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) - 1 AS pos FROM d2),
             |kept AS (SELECT t2.doc_id, t2.term, t2.pos FROM t2 ANTI JOIN cov
             |         ON t2.doc_id = cov.doc_id AND t2.pos = cov.pos),
             |agg AS (SELECT doc_id, string_agg(term, ' ' ORDER BY pos) AS clean_text,
             |               COUNT(*) AS n_kept FROM kept GROUP BY doc_id)
             |SELECT d2.doc_id, d2.source, coalesce(a.clean_text, '') AS clean_text,
             |       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_tokens
             |FROM d2 LEFT JOIN agg a USING (doc_id)
             |ORDER BY d2.doc_id""".stripMargin)),

    // substring-level dedup (Lee et al. 2022): maximal cross-document
    // duplicated 5-gram spans — the hash inverted-index reformulation
    // of the paper's suffix array
    Q("dedup_dup_spans",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Dedup.duplicateSpans(s.table("documents"), "doc_id", "text", n = 5)
          .orderBy(col("doc_id"), col("span_start"))
      },
      Some(s"""WITH d AS (SELECT doc_id, $oracleToks AS toks FROM documents),
              |p AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
              |      FROM d WHERE len(toks) >= 5),
              |g AS (SELECT doc_id, i - 1 AS gpos, array_to_string(toks[i:i+4], ' ') AS gram FROM p),
              |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
              |h AS (SELECT doc_id, gpos FROM g JOIN dup USING (gram)),
              |lg AS (SELECT doc_id, gpos,
              |       LAG(gpos) OVER (PARTITION BY doc_id ORDER BY gpos) AS pg FROM h),
              |w AS (SELECT doc_id, gpos,
              |      CASE WHEN pg IS NULL OR gpos > pg + 5 THEN 1 ELSE 0 END AS ni FROM lg),
              |isl AS (SELECT doc_id, gpos,
              |        SUM(ni) OVER (PARTITION BY doc_id ORDER BY gpos ROWS UNBOUNDED PRECEDING) AS island
              |        FROM w)
              |SELECT doc_id, CAST(MIN(gpos) AS BIGINT) AS span_start,
              |       CAST(MAX(gpos) + 4 AS BIGINT) AS span_end,
              |       CAST(MAX(gpos) + 5 - MIN(gpos) AS BIGINT) AS span_tokens
              |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin)),

    // the apply half: cut duplicated spans out of the text (keep the
    // document, remove the repeated substring)
    Q("dedup_drop_spans",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Dedup.removeDuplicateSpans(s.table("documents"), "doc_id", "text", n = 5)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, $oracleToks AS toks FROM documents),
              |p AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
              |      FROM d WHERE len(toks) >= 5),
              |g AS (SELECT doc_id, i - 1 AS gpos, array_to_string(toks[i:i+4], ' ') AS gram FROM p),
              |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
              |h AS (SELECT doc_id, gpos FROM g JOIN dup USING (gram)),
              |lg AS (SELECT doc_id, gpos,
              |       LAG(gpos) OVER (PARTITION BY doc_id ORDER BY gpos) AS pg FROM h),
              |w AS (SELECT doc_id, gpos,
              |      CASE WHEN pg IS NULL OR gpos > pg + 5 THEN 1 ELSE 0 END AS ni FROM lg),
              |isl AS (SELECT doc_id, gpos,
              |        SUM(ni) OVER (PARTITION BY doc_id ORDER BY gpos ROWS UNBOUNDED PRECEDING) AS island
              |        FROM w),
              |sp AS (SELECT doc_id, MIN(gpos) AS s, MAX(gpos) + 4 AS e FROM isl GROUP BY doc_id, island),
              |cov AS (SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM sp),
              |t AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) - 1 AS pos FROM d),
              |kept AS (SELECT t.doc_id, t.term, t.pos FROM t ANTI JOIN cov
              |         ON t.doc_id = cov.doc_id AND t.pos = cov.pos),
              |agg AS (SELECT doc_id, string_agg(term, ' ' ORDER BY pos) AS clean_text,
              |               COUNT(*) AS n_kept FROM kept GROUP BY doc_id)
              |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
              |       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
              |       CAST(len(d.toks) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
              |FROM d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin)),

    Q("text_bigram_perplexity",
      (s, dir) => {
        Tables.registerAll(s, dir)
        TextAnalysis.bigramPerplexity(s.table("documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      // λ = 0.75 is binary-exact; integer-ratio probabilities and the
      // 12-dp-rounded DECIMAL sum keep both engines bit-identical
      Some(s"""WITH d AS (SELECT doc_id, $oracleToks AS toks FROM documents),
              |seq AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM d),
              |seq2 AS (SELECT doc_id, pos, term,
              |         LAG(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM seq),
              |grp AS (SELECT doc_id, prev, term, COUNT(*) AS m FROM seq2 GROUP BY doc_id, prev, term),
              |uni AS (SELECT term, COUNT(*) AS cw FROM seq2 GROUP BY term),
              |tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS t_total, COUNT(*) AS v_size FROM uni),
              |bi AS (SELECT prev, term, COUNT(*) AS cb FROM seq2 WHERE prev IS NOT NULL GROUP BY prev, term),
              |ctx AS (SELECT prev, CAST(SUM(cb) AS BIGINT) AS cctx FROM bi GROUP BY prev),
              |contrib AS (
              |  SELECT g.doc_id, g.m,
              |    CAST(ROUND(g.m * ln(CASE WHEN g.prev IS NULL
              |        THEN (u.cw + 1.0) / (tot.t_total + tot.v_size)
              |        ELSE 0.75 * (CAST(b.cb AS DOUBLE) / CAST(c.cctx AS DOUBLE))
              |           + 0.25 * ((u.cw + 1.0) / (tot.t_total + tot.v_size)) END), 12) AS DECIMAL(38,15)) AS lp
              |  FROM grp g JOIN uni u USING (term)
              |  LEFT JOIN bi b ON b.prev = g.prev AND b.term = g.term
              |  LEFT JOIN ctx c ON c.prev = g.prev
              |  CROSS JOIN tot),
              |agg AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_tokens,
              |               CAST(SUM(lp) AS DOUBLE) AS slp
              |        FROM contrib GROUP BY doc_id)
              |SELECT doc_id, n_tokens,
              |       ROUND(-slp / n_tokens, 6) AS avg_nll,
              |       ROUND(exp(-slp / n_tokens), 6) AS ppl
              |FROM agg ORDER BY doc_id""".stripMargin)),

    // Interpolated Kneser-Ney: continuation counts N1+(.w)/N1+(v.)/
    // N1+(..) come from the DISTINCT bigram-type table; D = 0.75 and
    // the integer-count ratios keep both engines bit-identical under
    // the 12-dp contribution rounding
    Q("text_kn_perplexity",
      (s, dir) => {
        Tables.registerAll(s, dir)
        TextAnalysis.knBigramPerplexity(s.table("documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, $oracleToks AS toks FROM documents),
              |seq AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM d),
              |seq2 AS (SELECT doc_id, pos, term,
              |         LAG(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM seq),
              |grp AS (SELECT doc_id, prev, term, COUNT(*) AS m FROM seq2 GROUP BY doc_id, prev, term),
              |bi AS (SELECT prev, term, COUNT(*) AS cb FROM seq2 WHERE prev IS NOT NULL GROUP BY prev, term),
              |cv AS (SELECT prev, CAST(SUM(cb) AS BIGINT) AS cv, COUNT(*) AS n1v FROM bi GROUP BY prev),
              |cw AS (SELECT term, COUNT(*) AS n1w FROM bi GROUP BY term),
              |tot AS (SELECT (SELECT COUNT(*) FROM bi) AS nbt,
              |               (SELECT COUNT(DISTINCT term) FROM seq2) AS vsz),
              |contrib AS (
              |  SELECT g.doc_id, g.m,
              |    CAST(ROUND(g.m * ln(CASE WHEN g.prev IS NULL
              |        THEN (CAST(COALESCE(w.n1w, 0) AS DOUBLE) + 1.0)
              |           / CAST(tot.nbt + tot.vsz AS DOUBLE)
              |        ELSE GREATEST(CAST(b.cb AS DOUBLE) - 0.75, 0.0) / CAST(c.cv AS DOUBLE)
              |           + 0.75 * CAST(c.n1v AS DOUBLE) / CAST(c.cv AS DOUBLE)
              |             * (CAST(w.n1w AS DOUBLE) / CAST(tot.nbt AS DOUBLE)) END), 12)
              |      AS DECIMAL(38,15)) AS lp
              |  FROM grp g
              |  LEFT JOIN bi b ON b.prev = g.prev AND b.term = g.term
              |  LEFT JOIN cv c ON c.prev = g.prev
              |  LEFT JOIN cw w ON w.term = g.term
              |  CROSS JOIN tot),
              |agg AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_tokens,
              |               CAST(SUM(lp) AS DOUBLE) AS slp
              |        FROM contrib GROUP BY doc_id)
              |SELECT doc_id, n_tokens,
              |       ROUND(-slp / n_tokens, 6) AS avg_nll,
              |       ROUND(exp(-slp / n_tokens), 6) AS ppl
              |FROM agg ORDER BY doc_id""".stripMargin)),

    // DSIR importance weights: raw corpus = non-src0 docs, target
    // domain = src0 (the same split decontaminate_overlap uses).
    Q("text_dsir_weights",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        TextAnalysis.dsirLogWeights(
            docs.where(col("source") =!= "src0"),
            docs.where(col("source") === "src0"),
            "doc_id", "text", buckets = 1024)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $dsirCtes
              |SELECT doc_id, n_grams, ROUND(slw, 6) AS log_weight
              |FROM agg ORDER BY doc_id""".stripMargin)),

    // the apply half: Gumbel top-k resampling ∝ exp(log_weight) with
    // a deterministic md5-seeded uniform.
    Q("sample_dsir_resample",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        TextAnalysis.dsirResample(
          docs.where(col("source") =!= "src0"),
          docs.where(col("source") === "src0"),
          "doc_id", "text", k = 100, buckets = 1024)
      },
      Some(s"""WITH $dsirCtes,
              |wt AS (SELECT doc_id, ROUND(slw, 6) AS log_weight FROM agg),
              |keyed AS (SELECT doc_id, log_weight,
              |  ROUND(log_weight + (-ln(-ln(
              |    (('0x' || substr(md5('dsir|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 0.5)
              |      / 1152921504606846976.0))), 6) AS samp_key
              |  FROM wt)
              |SELECT doc_id, log_weight, samp_key FROM keyed
              |ORDER BY samp_key DESC, doc_id LIMIT 100""".stripMargin)),

    // ── dedup ──────────────────────────────────────────────────────

    Q("dedup_exact_stats",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        // one digest groupBy feeds all four exact-dup stats (instead of
        // a raw scan + countDistinct + a second exactGroups scan); the
        // fingerprint stat is the only second pass over the bodies
        val counts = docs.groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("c"))
        val fps = Dedup.fingerprintGroups(docs, "doc_id", "text")
        counts.agg(
            sum(col("c")).as("n_docs"),
            count(lit(1)).as("n_distinct"),
            sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
            sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup_docs"))
          .crossJoin(fps.agg(count(lit(1)).as("n_fp_groups")))
      },
      Some("""SELECT
             |  (SELECT COUNT(*) FROM documents) AS n_docs,
             |  (SELECT COUNT(DISTINCT md5(text)) FROM documents) AS n_distinct,
             |  (SELECT COUNT(*) FROM (SELECT md5(text) h FROM documents GROUP BY text HAVING COUNT(*) > 1)) AS n_dup_groups,
             |  (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM (SELECT COUNT(*) c FROM documents GROUP BY text HAVING COUNT(*) > 1)) AS n_dup_docs,
             |  (SELECT COUNT(*) FROM (
             |     SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) h, COUNT(*) c
             |     FROM documents GROUP BY 1 HAVING COUNT(*) > 1)) AS n_fp_groups""".stripMargin)),

    // the "apply" half: drop non-canonical exact duplicates.
    Q("dedup_drop_exact",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Dedup.dropExactDuplicates(s.table("documents"), "doc_id", "text")
          .select(col("doc_id")).orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id FROM documents
             |JOIN (SELECT md5(text) AS h, MIN(doc_id) AS m FROM documents GROUP BY 1) k
             |  ON md5(text) = k.h AND doc_id = k.m
             |ORDER BY doc_id""".stripMargin)),

    Q("dedup_ngram_jaccard_topk",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Dedup.ngramJaccardPairs(s.table("documents"), "doc_id", "text",
            blockCols = Seq("lang", "source"), n = 3, threshold = 0.0)
          .where(col("jaccard") > 0)
          .orderBy(desc("jaccard"), col("id_a"), col("id_b"))
          .limit(50)
      },
      Some(s"""WITH d AS (SELECT doc_id, lang, source, $oracleToks AS toks FROM documents),
              |sh AS (SELECT doc_id, lang, source, $oracleShingles AS sh FROM d)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              |  CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
              |FROM sh a JOIN sh b
              |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
              |WHERE len(list_intersect(a.sh, b.sh)) > 0
              |ORDER BY jaccard DESC, id_a, id_b LIMIT 50""".stripMargin)),

    // bipartite (cross-corpus) near-dup: the new batch (non-src0)
    // deduplicated AGAINST the existing corpus (src0) — incremental
    // ingestion. Per-doc signatures are corpus-independent, so the
    // oracle computes one signature chain and filters at the
    // candidate join.
    Q("dedup_cross_pairs",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        Dedup.minhashLshPairsAcross(
            docs.where(col("source") =!= "src0"),
            docs.where(col("source") === "src0"),
            "doc_id", "text", k = 16, bands = 4, n = 3, threshold = 0.25)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH $crossMinhashCtes
              |SELECT id_a, id_b, est_jaccard FROM est
              |WHERE est_jaccard >= 0.25 ORDER BY id_a, id_b""".stripMargin)),

    // its apply: the new batch with corpus-duplicates removed.
    Q("dedup_drop_cross",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        Dedup.dropCrossDuplicates(
            docs.where(col("source") =!= "src0"),
            docs.where(col("source") === "src0"),
            "doc_id", "text", k = 16, bands = 4, n = 3, threshold = 0.25)
          .select(col("doc_id")).orderBy(col("doc_id"))
      },
      Some(s"""WITH $crossMinhashCtes
              |SELECT doc_id FROM documents
              |WHERE source <> 'src0'
              |  AND doc_id NOT IN (SELECT id_a FROM est WHERE est_jaccard >= 0.25)
              |ORDER BY doc_id""".stripMargin)),

    Q("dedup_minhash_lsh",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Dedup.minhashLshPairs(s.table("documents"), "doc_id", "text",
            k = 16, bands = 4, n = 3, threshold = 0.25)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH $minhashOracleCtes
              |SELECT id_a, id_b, est_jaccard FROM est
              |WHERE est_jaccard >= 0.25 ORDER BY id_a, id_b""".stripMargin)),

    // the "apply" half at near-dup granularity: drop every id_b side
    // of the LSH pair set — the end-to-end corpus-dedup composition.
    Q("dedup_drop_near",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
            k = 16, bands = 4, n = 3, threshold = 0.25)
        Dedup.dropPairedDuplicates(docs, "doc_id", pairs)
          .select(col("doc_id")).orderBy(col("doc_id"))
      },
      Some(s"""WITH $minhashOracleCtes
              |SELECT doc_id FROM documents
              |WHERE doc_id NOT IN (SELECT id_b FROM est WHERE est_jaccard >= 0.25)
              |ORDER BY doc_id""".stripMargin)),

    // incremental dedup against a PERSISTED signature index — the
    // production ingest shape: the first 60% of ids play the
    // accumulated corpus (its signature index written to parquet,
    // dropped docs' signatures included), the rest arrive as a new
    // shard deduped via Dedup.dedupIncrement WITHOUT re-scanning the
    // corpus text. The oracle is the FULL-corpus batch dedup formula
    // (dedup_drop_near's, verbatim): increment-survivors ∪
    // corpus-survivors must equal it exactly — the decomposition
    // proof that the index path loses nothing.
    Q("dedup_incremental",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        val maxId = docs.agg(max(col("doc_id"))).head().get(0)
        if (maxId == null) {
          docs.select(col("doc_id")) // schema-correct empty frame
        } else {
          val bnd = maxId.asInstanceOf[Long] * 3 / 5
          val old = docs.where(col("doc_id") <= bnd)
          val inc = docs.where(col("doc_id") > bnd)
          // scratch index, reclaimed at JVM exit — a multi-sweep bench
          // run must not accumulate orphaned signature trees in /tmp
          val idxPath = graft.ops.TableWrite.scratchDir("graft_mh_index")
          // the corpus-side index build and the increment-side
          // signature pass are INDEPENDENT — overlap them (r15,
          // guide-§2.6: both are small-stage jobs that leave the
          // scheduler idle between rounds). The fork returns the
          // PINNED wide signature table it appended, so both probes
          // (the corpus's own pair scan AND the increment's banded
          // join) read it directly instead of re-reading the files the
          // append just wrote (r16, guide §6 I/O).
          val built = graft.ops.Concurrent.forkValue(IncrementalIndex.Minhash.build(
            Dedup.minhashSignaturesWide(old, "doc_id", "text", k = 16, n = 3), idxPath))
          // joined on BOTH paths: a failed increment pass must not
          // leak the builder thread
          val sigs = graft.ops.Concurrent.joinOnFailure(built)(
            Dedup.pinnedMinhashSignatures(inc, "doc_id", "text", k = 16, n = 3))
          val corpusSigs = built()
          // the corpus's own dup pairs come FROM the pinned table the
          // index was written from — the corpus text is
          // signature-hashed exactly once
          val oldKept = Dedup.dropPairedDuplicates(old, "doc_id",
            Dedup.minhashLshPairsFromSigs(corpusSigs,
              k = 16, bands = 4, threshold = 0.25))
          val incKept = Dedup.dedupIncrement(inc, "doc_id", "text", idxPath,
            k = 16, bands = 4, n = 3, threshold = 0.25,
            pinnedSigs = Some(sigs), pinnedIndex = Some(corpusSigs))
          oldKept.select(col("doc_id")).union(incKept.select(col("doc_id")))
            .orderBy(col("doc_id"))
        }
      },
      Some(s"""WITH $minhashOracleCtes
              |SELECT doc_id FROM documents
              |WHERE doc_id NOT IN (SELECT id_b FROM est WHERE est_jaccard >= 0.25)
              |ORDER BY doc_id""".stripMargin)),

    // incremental SPAN dedup against a persisted gram index — the
    // substring-level sibling of dedup_incremental: the first 60% of
    // ids play the accumulated corpus (its distinct gram hashes
    // persisted as (gh, min_doc)), the rest arrive as a new shard
    // whose duplicated spans are cut WITHOUT re-hashing the corpus.
    // The oracle is the FULL-corpus batch span-removal formula
    // (dedup_drop_spans's, verbatim) restricted to the increment —
    // the decomposition proof: index-presence ∨ within-increment
    // duplication IS the union rule on increment docs.
    Q("dedup_spans_incremental",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        val maxId = docs.agg(max(col("doc_id"))).head().get(0)
        if (maxId == null) {
          docs.selectExpr("doc_id", "'' AS clean_text",
            "CAST(0 AS BIGINT) AS n_kept", "CAST(0 AS BIGINT) AS n_removed")
            .where(lit(false))
        } else {
          val bnd = maxId.asInstanceOf[Long] * 3 / 5
          val idxPath = graft.ops.TableWrite.scratchDir("graft_span_index")
          val inc = docs.where(col("doc_id") > bnd)
          // overlap the corpus-side index build with the increment's
          // gram pass (independent jobs — r15, guide §2.6); the fork
          // returns the PINNED index rows it appended, so the probe
          // reads them directly instead of re-reading the files the
          // append just wrote (r16, guide §6 I/O)
          val built = graft.ops.Concurrent.forkValue(IncrementalIndex.Span.build(
            IncrementalIndex.Span.rows(
              Dedup.spanGrams(docs.where(col("doc_id") <= bnd), "doc_id", "text", 5)),
            idxPath))
          // joined on BOTH paths: a failed increment pass must not
          // leak the builder thread
          val grams = graft.ops.Concurrent.joinOnFailure(built)(
            Dedup.pinnedSpanGrams(inc, "doc_id", "text", n = 5))
          val idxRows = built()
          Dedup.removeDuplicateSpansIncrement(inc,
              "doc_id", "text", idxPath, n = 5, pinnedGrams = Some(grams),
              pinnedIndex = Some(idxRows))
            .orderBy(col("doc_id"))
        }
      },
      Some(s"""WITH d AS (SELECT doc_id, $oracleToks AS toks FROM documents),
              |p AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
              |      FROM d WHERE len(toks) >= 5),
              |g AS (SELECT doc_id, i - 1 AS gpos, array_to_string(toks[i:i+4], ' ') AS gram FROM p),
              |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
              |h AS (SELECT doc_id, gpos FROM g JOIN dup USING (gram)),
              |lg AS (SELECT doc_id, gpos,
              |       LAG(gpos) OVER (PARTITION BY doc_id ORDER BY gpos) AS pg FROM h),
              |w AS (SELECT doc_id, gpos,
              |      CASE WHEN pg IS NULL OR gpos > pg + 5 THEN 1 ELSE 0 END AS ni FROM lg),
              |isl AS (SELECT doc_id, gpos,
              |        SUM(ni) OVER (PARTITION BY doc_id ORDER BY gpos ROWS UNBOUNDED PRECEDING) AS island
              |        FROM w),
              |sp AS (SELECT doc_id, MIN(gpos) AS s, MAX(gpos) + 4 AS e FROM isl GROUP BY doc_id, island),
              |cov AS (SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM sp),
              |t AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) - 1 AS pos FROM d),
              |kept AS (SELECT t.doc_id, t.term, t.pos FROM t ANTI JOIN cov
              |         ON t.doc_id = cov.doc_id AND t.pos = cov.pos),
              |agg AS (SELECT doc_id, string_agg(term, ' ' ORDER BY pos) AS clean_text,
              |               COUNT(*) AS n_kept FROM kept GROUP BY doc_id)
              |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
              |       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
              |       CAST(len(d.toks) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
              |FROM d LEFT JOIN agg a USING (doc_id)
              |WHERE d.doc_id > (SELECT MAX(doc_id) * 3 // 5 FROM documents)
              |ORDER BY d.doc_id""".stripMargin)),

    // ── line-level exact dedup (Falcon/RefinedWeb) ─────────────────
    // the granularity between document-level (dedup_drop_exact) and
    // substring-level (dedup_drop_spans): EXACT duplicate lines are
    // cut corpus-globally except in the min-id document. The corpus
    // has no newlines, so both engines regroup it into 6-token lines
    // first (sixTokenLines / the lt-ld CTEs — identical derivations).
    Q("dedup_dup_lines",
      (s, dir) => {
        Tables.registerAll(s, dir)
        // pre-synthesis repartition: the corpus is one parquet file =
        // one input partition, and both the 6-token-line synthesis and
        // the cut side's array filter would serialize (the
        // multimodal_decode_real lesson)
        Dedup.duplicateLines(sixTokenLines(
            s.table("documents").repartition(32, col("doc_id"))), "doc_id", "text")
          .orderBy(col("line"))
      },
      Some(s"""WITH $lineOracleCtes
              |SELECT line, COUNT(DISTINCT doc_id) AS n_docs,
              |       COUNT(*) AS n_occurrences, MIN(doc_id) AS min_doc
              |FROM nb GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2
              |ORDER BY line""".stripMargin)),

    // the apply half: every cross-document duplicated line cut except
    // in the smallest-id document (blank lines always survive)
    Q("dedup_drop_lines",
      (s, dir) => {
        Tables.registerAll(s, dir)
        // same pre-synthesis repartition as dedup_dup_lines
        Dedup.removeDuplicateLines(sixTokenLines(
            s.table("documents").repartition(32, col("doc_id"))), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $lineOracleCtes
              |SELECT ld.doc_id, coalesce(a.clean_text, '') AS clean_text,
              |       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_lines_kept,
              |       CAST(len(ld.ls) - coalesce(a.n_kept, 0) AS BIGINT) AS n_lines_removed
              |FROM ld LEFT JOIN lagg a USING (doc_id)
              |ORDER BY ld.doc_id""".stripMargin)),

    // incremental LINE dedup against a persisted (lh, min_doc) index —
    // the line-granularity sibling of dedup_spans_incremental: the
    // first 60% of ids play the accumulated corpus, the rest arrive
    // as a new shard whose duplicated lines are cut WITHOUT re-reading
    // the corpus. The oracle is the FULL-corpus batch formula
    // (dedup_drop_lines's, verbatim) restricted to the increment —
    // the decomposition proof: index-presence ∨ within-increment rule
    // IS the corpus-global min-doc rule on increment docs.
    Q("dedup_lines_incremental",
      (s, dir) => {
        Tables.registerAll(s, dir)
        // same pre-synthesis repartition as dedup_dup_lines
        val docs = sixTokenLines(
          s.table("documents").repartition(32, col("doc_id")))
        val maxId = docs.agg(max(col("doc_id"))).head().get(0)
        if (maxId == null) {
          docs.selectExpr("doc_id", "'' AS clean_text",
            "CAST(0 AS BIGINT) AS n_lines_kept", "CAST(0 AS BIGINT) AS n_lines_removed")
            .where(lit(false))
        } else {
          val bnd = maxId.asInstanceOf[Long] * 3 / 5
          val idxPath = graft.ops.TableWrite.scratchDir("graft_line_index")
          val inc = docs.where(col("doc_id") > bnd)
          // overlap the corpus-side index build with the increment's
          // line pass (independent jobs — r15, guide §2.6); the fork
          // returns the PINNED index rows it appended, so the probe
          // reads them directly instead of re-reading the files the
          // append just wrote (r16, guide §6 I/O)
          val built = graft.ops.Concurrent.forkValue(IncrementalIndex.Line.build(
            IncrementalIndex.Line.rows(
              Dedup.lineRows(docs.where(col("doc_id") <= bnd), "doc_id", "text")),
            idxPath))
          // joined on BOTH paths: a failed increment pass must not
          // leak the builder thread (it would keep running Spark jobs
          // against the scratch index after the query has failed)
          val lines = graft.ops.Concurrent.joinOnFailure(built)(
            Dedup.pinnedLineRows(inc, "doc_id", "text"))
          val idxRows = built()
          Dedup.removeDuplicateLinesIncrement(inc,
              "doc_id", "text", idxPath, pinnedLines = Some(lines),
              pinnedIndex = Some(idxRows))
            .orderBy(col("doc_id"))
        }
      },
      Some(s"""WITH $lineOracleCtes
              |SELECT ld.doc_id, coalesce(a.clean_text, '') AS clean_text,
              |       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_lines_kept,
              |       CAST(len(ld.ls) - coalesce(a.n_kept, 0) AS BIGINT) AS n_lines_removed
              |FROM ld LEFT JOIN lagg a USING (doc_id)
              |WHERE ld.doc_id > (SELECT MAX(doc_id) * 3 // 5 FROM documents)
              |ORDER BY ld.doc_id""".stripMargin)),

    // transitive closure of the pair set: corpus-level duplicate
    // CLUSTERS (A~B, B~C ⇒ one cluster), min doc id as the canonical
    // representative — oracle is a DuckDB recursive CTE reaching the
    // same fixpoint the pointer-jumping loop computes
    Q("dedup_cluster_assign",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
            k = 16, bands = 4, n = 3, threshold = 0.25)
        val comp = graft.ops.Components.connectedComponents(pairs, "id_a", "id_b")
        docs.select(col("doc_id"))
          .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster_id"))
          .withColumn("cluster_size", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $minhashOracleCtes,
              |prs AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.25),
              |eg AS (SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b, id_a FROM prs),
              |walk(node, lbl) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT e.b, w.lbl FROM walk w JOIN eg e ON e.a = w.node),
              |comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node)
              |SELECT doc_id, cluster_id,
              |       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
              |FROM comp ORDER BY doc_id""".stripMargin)),

    Q("dedup_simhash",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Dedup.simhash(s.table("documents"), "doc_id", "text", bits = 64)
          .orderBy(col("id"))
      },
      Some("""WITH d AS (SELECT doc_id AS id,
             |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks FROM documents),
             |tf AS (SELECT id, tok, COUNT(*) AS tf
             |  FROM (SELECT id, unnest(toks) AS tok FROM d) GROUP BY id, tok),
             |nibs AS (
             |  SELECT id, tf, p.pos,
             |         strpos('0123456789abcdef', substr(md5(tok), p.pos, 1)) - 1 AS nib
             |  FROM tf, (SELECT unnest(generate_series(1, 16)) AS pos) p),
             |bits AS (
             |  SELECT id, (pos - 1) * 4 + w.b AS bitpos,
             |         SUM(CASE WHEN (nib // w.d) % 2 = 1 THEN tf ELSE -tf END) AS v
             |  FROM nibs, (VALUES (0, 8), (1, 4), (2, 2), (3, 1)) AS w(b, d)
             |  GROUP BY id, (pos - 1) * 4 + w.b)
             |SELECT id, string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY bitpos) AS simhash
             |FROM bits GROUP BY id ORDER BY id""".stripMargin)),

    Q("dedup_embedding_pairs",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Dedup.embeddingNearDupPairs(s.table("embeddings"), "vec_id", "embedding",
            threshold = 0.3, blockCol = Some("label"))
          .selectExpr("id_a", "id_b", "ROUND(cosine, 6) AS cosine")
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH v AS (SELECT vec_id, label, embedding FROM embeddings)
              |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |  ROUND(${oracleCosine("a.embedding", "b.embedding")}, 6) AS cosine
              |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
              |WHERE ${oracleCosine("a.embedding", "b.embedding")} >= 0.3
              |ORDER BY id_a, id_b""".stripMargin)),

    // SemDeDup: k-means-cluster the embedding space (the proven
    // deterministic trainer), compare pairs only within a cluster,
    // drop the larger id of every pair at cosine >= 0.35 (nearest
    // within-cluster pair sits 7e-5 from the threshold at sf0.01 —
    // no engine-float ambiguity). Exposes the surviving rows WITH
    // their cluster label so the oracle pins assignment AND drop.
    Q("dedup_semantic_drop",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val emb = s.table("embeddings")
        val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
          k = 4, iters = 2)
        val assigned = Similarity.assignClusters(emb, "embedding", cents)
        val pairs = Dedup.embeddingNearDupPairs(assigned, "vec_id", "embedding",
          threshold = 0.35, blockCol = Some("cent_id"))
        Dedup.dropPairedDuplicates(assigned, "vec_id", pairs)
          .selectExpr("vec_id", "CAST(cent_id AS BIGINT) AS cent_id")
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH ${trainCtes(4, 2, 64)},
              |assignf AS (
              |  SELECT vec_id, embedding, ci FROM (
              |    SELECT e.vec_id, e.embedding, c.ci,
              |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
              |             ORDER BY ${oracleCosine("e.embedding", "c.cv")} DESC, c.ci DESC) AS rn
              |    FROM embeddings e CROSS JOIN cent2 c)
              |  WHERE rn = 1),
              |drops AS (
              |  SELECT DISTINCT b.vec_id AS d
              |  FROM assignf a JOIN assignf b ON a.ci = b.ci AND a.vec_id < b.vec_id
              |  WHERE ${oracleCosine("a.embedding", "b.embedding")} >= 0.35)
              |SELECT a.vec_id, CAST(a.ci AS BIGINT) AS cent_id
              |FROM assignf a WHERE a.vec_id NOT IN (SELECT d FROM drops)
              |ORDER BY vec_id""".stripMargin)),

    // Fuzzy entity resolution: blocked Jaro-Winkler name pairs
    // (Dedup.fuzzyNamePairs). The threshold applies to the 6-digit
    // ROUNDED score on both sides so borderline pairs can't disagree
    // between the engines.
    Q("dedup_fuzzy_names",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Dedup.fuzzyNamePairs(s.table("part"), "p_partkey", "p_name",
            threshold = 0.9, blockLen = 2)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
              |  ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS sim
              |FROM part a JOIN part b
              |  ON substr(lower(a.p_name), 1, 2) = substr(lower(b.p_name), 1, 2)
              | AND a.p_partkey < b.p_partkey
              |WHERE a.p_name <> b.p_name
              |  AND ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.9
              |ORDER BY id_a, id_b""".stripMargin)),

    // ── similarity search ──────────────────────────────────────────

    Q("ann_bruteforce_topk",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val emb = s.table("embeddings")
        Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 10)
          .selectExpr("query_id", "rank", "nn_id", "ROUND(cosine, 6) AS cosine")
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
              |c AS (SELECT vec_id AS nn_id, embedding AS cv FROM embeddings),
              |scored AS (
              |  SELECT query_id, nn_id, ${oracleCosine("qv", "cv")} AS cos
              |  FROM q CROSS JOIN c WHERE nn_id != query_id),
              |ranked AS (
              |  SELECT query_id, nn_id, cos,
              |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
              |  FROM scored)
              |SELECT query_id, rank, nn_id, ROUND(cos, 6) AS cosine
              |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    Q("ann_ivf_topk",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val emb = s.table("embeddings")
        Similarity.ivfTopK(
            emb,
            emb.where(col("vec_id") >= 3 && col("vec_id") < 8),
            emb.where(col("vec_id") < 3),
            "vec_id", "embedding", k = 10, nprobe = 2)
          .selectExpr("query_id", "rank", "nn_id", "ROUND(cosine, 6) AS cosine")
          .orderBy(col("query_id"), col("rank"))
      },
      // assignment ties break to the LARGEST cent_id (the engine's
      // hash-agg max(struct) / window-desc semantics)
      Some(s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 3),
              |corpus AS (SELECT vec_id AS nn_id, embedding AS nv FROM embeddings),
              |cassign AS (
              |  SELECT nn_id, cent_id FROM (
              |    SELECT nn_id, cent_id,
              |           ROW_NUMBER() OVER (PARTITION BY nn_id ORDER BY cc DESC, cent_id DESC) AS rn
              |    FROM (SELECT nn_id, cent_id, ${oracleCosine("nv", "cv")} AS cc
              |          FROM corpus CROSS JOIN cent))
              |  WHERE rn = 1),
              |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
              |      WHERE vec_id >= 3 AND vec_id < 8),
              |qassign AS (
              |  SELECT query_id, cent_id FROM (
              |    SELECT query_id, cent_id,
              |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cc DESC, cent_id DESC) AS rn
              |    FROM (SELECT query_id, cent_id, ${oracleCosine("qv", "cv")} AS cc
              |          FROM q CROSS JOIN cent))
              |  WHERE rn <= 2),
              |pairs AS (
              |  SELECT q.query_id, c.nn_id, ${oracleCosine("q.qv", "c.nv")} AS cos
              |  FROM corpus c JOIN cassign ca ON c.nn_id = ca.nn_id
              |  JOIN qassign qa ON ca.cent_id = qa.cent_id
              |  JOIN q ON q.query_id = qa.query_id
              |  WHERE c.nn_id != q.query_id),
              |ranked AS (
              |  SELECT query_id, nn_id, cos,
              |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
              |  FROM pairs)
              |SELECT query_id, rank, nn_id, ROUND(cos, 6) AS cosine
              |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    Q("ann_ivf_train_centroids",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Similarity.trainIvfCentroids(s.table("embeddings"), "vec_id", "embedding",
            k = 4, iters = 2)
          .select(col("cent_id"), posexplode(col("centroid")).as(Seq("pos", "v")))
          .selectExpr("cent_id", "CAST(pos AS BIGINT) AS pos", "ROUND(v, 6) AS v")
          .orderBy(col("cent_id"), col("pos"))
      },
      Some(trainOracleSql(k = 4, iters = 2, dims = 64))),

    Q("ann_lsh_buckets",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val emb = s.table("embeddings")
        emb.select(col("vec_id"), Similarity.lshBucket(col("embedding"), planes = 8).as("bucket"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH $lshBucketCtes
              |SELECT vec_id, bucket FROM b ORDER BY vec_id""".stripMargin)),

    // multi-probe LSH: each query also searches every hamming-1 bucket
    // (9 buckets at 8 planes) — recall recovery for neighbors that fell
    // just across a hyperplane; the corpus side keeps one bucket key.
    Q("ann_lsh_multiprobe",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val emb = s.table("embeddings")
        Similarity.lshTopK(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
            k = 10, planes = 8, hamming = 1)
          .selectExpr("query_id", "rank", "nn_id", "ROUND(cosine, 6) AS cosine")
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $lshBucketCtes,
              |qprobe AS (
              |  SELECT vec_id AS query_id,
              |         unnest(list_prepend(bucket,
              |           [substr(bucket, 1, i - 1) ||
              |            CASE WHEN substr(bucket, i, 1) = '1' THEN '0' ELSE '1' END ||
              |            substr(bucket, i + 1, 8 - i)
              |            for i in generate_series(1, 8)])) AS bucket
              |  FROM b WHERE vec_id < 5),
              |cand AS (
              |  SELECT qp.query_id, cb.vec_id AS nn_id
              |  FROM qprobe qp JOIN b cb ON cb.bucket = qp.bucket
              |  WHERE cb.vec_id <> qp.query_id),
              |scored AS (
              |  SELECT c.query_id, c.nn_id,
              |         ${oracleCosine("qe.embedding", "ne.embedding")} AS cos
              |  FROM cand c
              |  JOIN embeddings qe ON qe.vec_id = c.query_id
              |  JOIN embeddings ne ON ne.vec_id = c.nn_id),
              |ranked AS (
              |  SELECT query_id, nn_id, cos,
              |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
              |  FROM scored)
              |SELECT query_id, rank, nn_id, ROUND(cos, 6) AS cosine
              |FROM ranked WHERE rank <= 10
              |ORDER BY query_id, rank""".stripMargin)),

    // ── multimodal plumbing ────────────────────────────────────────

    Q("multimodal_features",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val media = Multimodal.syntheticMedia(s.table("documents"))
        Multimodal.extractFeatures(Multimodal.resizeMeta(media, 256))
          .selectExpr("media_id", "meta.format AS format", "meta.width AS width",
            "meta.height AS height", "f_mean_byte", "f_n_bytes")
          .orderBy(col("media_id"))
      },
      // content = UTF-8 bytes of md5 hex → mean byte = mean ASCII code
      Some("""WITH m AS (
             |  SELECT doc_id AS media_id, md5(text) AS h,
             |    CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'webp' END AS format,
             |    CAST(doc_id % 640 + 32 AS INT) AS w0,
             |    CAST(doc_id % 480 + 32 AS INT) AS h0
             |  FROM documents),
             |resized AS (
             |  SELECT media_id, h, format,
             |    CAST(floor(w0 * LEAST(256.0 / w0, 256.0 / h0, 1.0)) AS INT) AS width,
             |    CAST(floor(h0 * LEAST(256.0 / w0, 256.0 / h0, 1.0)) AS INT) AS height
             |  FROM m)
             |SELECT media_id, format, width, height,
             |  CAST(list_sum(list_transform([substr(h, i, 1) for i in generate_series(1, 32)], c -> ascii(c))) AS DOUBLE) / 32 AS f_mean_byte,
             |  CAST(32 AS DOUBLE) AS f_n_bytes
             |FROM resized ORDER BY media_id""".stripMargin)),

    Q("multimodal_frames",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val media = Multimodal.syntheticMedia(s.table("documents"))
        Multimodal.sampleFrames(media, everyN = 10)
          .groupBy(col("media_id")).agg(count(lit(1)).as("n_sampled"))
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
             |  GREATEST((CAST(doc_id % 30 + 1 AS INT) - 1) // 10, 0) + 1 AS n_sampled
             |FROM documents ORDER BY media_id""".stripMargin)),

    // the REAL image decode path under the oracle: a 4×2 24-bit BMP
    // is synthesized per document (gray pixel (x,y) = (id·31+x+5y)
    // mod 256 — an actual container ImageIO parses), decoded by
    // javax.imageio through extractImageFeatures, and the decoded
    // width/height/mean-luma must equal DuckDB's arithmetic over the
    // same pixel formula. This hard-gates the decoder the synthetic
    // md5-bytes rows (multimodal_features) deliberately stub around.
    Q("multimodal_decode_real",
      (s, dir) => {
        Tables.registerAll(s, dir)
        // repartition the cheap doc rows BEFORE synthesis so container
        // building AND decode spread across tasks (the corpus is one
        // parquet file = one input partition; synthesizing on top of
        // the exchange ran single-task)
        val media = Multimodal.syntheticBmp(
          s.table("documents").repartition(32, col("doc_id")))
        // eager pin: the sort sampler would otherwise re-run the
        // whole ImageIO decode a second time
        Multimodal.extractImageFeatures(media)
          .select(col("media_id"), col("img_width"), col("img_height"),
            round(col("img_mean_luma"), 6).as("img_mean_luma"))
          .localCheckpoint(true)
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(4 AS INT) AS img_width, CAST(2 AS INT) AS img_height,
             |  ROUND(list_sum([
             |    CAST((doc_id*31 + (i % 4) + 5*(i // 4)) % 256 AS DOUBLE) * 0.299
             |    + CAST((doc_id*31 + (i % 4) + 5*(i // 4)) % 256 AS DOUBLE) * 0.587
             |    + CAST((doc_id*31 + (i % 4) + 5*(i // 4)) % 256 AS DOUBLE) * 0.114
             |    for i in generate_series(0, 7)]) / 8, 6) AS img_mean_luma
             |FROM documents ORDER BY media_id""".stripMargin)),

    // the REAL audio decode path under the oracle: a mono 16-bit
    // 8 kHz PCM WAV is synthesized per document (sample i =
    // ((id·13+i·37) mod 2001) − 1000), decoded by javax.sound through
    // extractAudioFeatures, and duration/RMS/zero-crossing-rate must
    // equal DuckDB's arithmetic over the same sample formula.
    Q("multimodal_decode_audio",
      (s, dir) => {
        Tables.registerAll(s, dir)
        // same pre-synthesis repartition as multimodal_decode_real
        val media = Multimodal.syntheticWav(
          s.table("documents").repartition(32, col("doc_id")))
        // eager pin: the sort sampler would otherwise re-run the
        // whole javax.sound decode a second time
        Multimodal.extractAudioFeatures(media)
          .select(col("media_id"),
            round(col("audio_seconds"), 6).as("audio_seconds"),
            round(col("audio_rms"), 6).as("audio_rms"),
            round(col("audio_zcr"), 6).as("audio_zcr"))
          .localCheckpoint(true)
          .orderBy(col("media_id"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, CAST(doc_id % 16 + 4 AS BIGINT) AS n FROM documents),
             |s AS (
             |  SELECT doc_id, n, i,
             |    CAST((doc_id*13 + i*37) % 2001 - 1000 AS DOUBLE) / 32768.0 AS v
             |  FROM d, LATERAL unnest(generate_series(0, n - 1)) AS t(i)),
             |lagged AS (
             |  SELECT doc_id, n, i, v,
             |    LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
             |  FROM s),
             |agg AS (
             |  SELECT doc_id, ANY_VALUE(n) AS n,
             |    SQRT(SUM(v*v) / ANY_VALUE(n)) AS rms,
             |    SUM(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0))
             |        THEN 1 ELSE 0 END) AS zc
             |  FROM lagged GROUP BY doc_id)
             |SELECT doc_id AS media_id,
             |  ROUND(CAST(n AS DOUBLE) / 8000.0, 6) AS audio_seconds,
             |  ROUND(rms, 6) AS audio_rms,
             |  ROUND(CAST(zc AS DOUBLE) / n, 6) AS audio_zcr
             |FROM agg ORDER BY media_id""".stripMargin)),

    // the REAL video decode path under the oracle (the last real
    // decoder to get a CORRECTNESS row — image r13, audio r13): an
    // ANIMATED GIF is synthesized per document as a hex column
    // expression (LZW with min code size 7 = one byte per pixel code,
    // see Multimodal.syntheticGif), decoded frame-by-frame by the
    // REAL JDK GIF ImageReader through sampleFramesDecoded, and every
    // frame's dimensions + mean luma must equal DuckDB's arithmetic
    // over the same palette formula.
    Q("multimodal_decode_video",
      (s, dir) => {
        Tables.registerAll(s, dir)
        // same pre-synthesis repartition as multimodal_decode_real
        val media = Multimodal.syntheticGif(
          s.table("documents").repartition(32, col("doc_id")))
        // eager pin: the sort sampler would otherwise re-run the
        // whole GIF decode a second time
        Multimodal.sampleFramesDecoded(media, everyN = 1)
          .select(col("media_id"), col("frame_idx"),
            col("frame_width"), col("frame_height"),
            round(col("frame_mean_luma"), 6).as("frame_mean_luma"))
          .localCheckpoint(true)
          .orderBy(col("media_id"), col("frame_idx"))
      },
      Some("""WITH f AS (
             |  SELECT doc_id, unnest(generate_series(0, CAST(doc_id % 3 AS INT) + 1)) AS fi
             |  FROM documents)
             |SELECT doc_id AS media_id, CAST(fi AS INT) AS frame_idx,
             |  CAST(4 AS INT) AS frame_width, CAST(2 AS INT) AS frame_height,
             |  ROUND(list_sum([
             |    CAST(2 * ((doc_id*31 + (i % 4) + 5*(i // 4) + 7*fi) % 128) AS DOUBLE) * 0.299
             |    + CAST(2 * ((doc_id*31 + (i % 4) + 5*(i // 4) + 7*fi) % 128) AS DOUBLE) * 0.587
             |    + CAST(2 * ((doc_id*31 + (i % 4) + 5*(i // 4) + 7*fi) % 128) AS DOUBLE) * 0.114
             |    for i in generate_series(0, 7)]) / 8, 6) AS frame_mean_luma
             |FROM f ORDER BY media_id, frame_idx""".stripMargin)),

    // ── winnowing / sampling / quantization (round-3 extensions) ───

    // MOSS-style rolling-hash fingerprints: k=8 char-grams, window 4;
    // fingerprint SET is compared via count/min/max/digest scalars.
    Q("text_winnow_fingerprint",
      (s, dir) => {
        Tables.registerAll(s, dir)
        // guarded spread before the md5-per-window kernel — the
        // single-file-corpus serialization trap (winnowPairs lesson)
        graft.ops.Spread.ifNarrow(s.table("documents"), col("doc_id"))
          .select(col("doc_id"),
            TextAnalysis.winnowFingerprints(col("text"), k = 8, w = 4).as("fps"))
          .select(col("doc_id"),
            size(col("fps")).cast("long").as("n_fp"),
            array_min(col("fps")).as("fp_min"),
            array_max(col("fps")).as("fp_max"),
            md5(concat_ws(",", col("fps"))).as("fp_digest"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nrm
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |    [substr(md5(substr(nrm, i, 8)), 1, 15) for i in generate_series(1, GREATEST(len(nrm) - 7, 1))] AS hs
             |  FROM d),
             |wn AS (
             |  SELECT doc_id,
             |    list_sort(list_distinct([list_aggregate(hs[j:j+3], 'min') for j in generate_series(1, GREATEST(len(hs) - 3, 1))])) AS fps
             |  FROM g)
             |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
             |       fps[1] AS fp_min, fps[len(fps)] AS fp_max,
             |       md5(array_to_string(fps, ',')) AS fp_digest
             |FROM wn ORDER BY doc_id""".stripMargin)),

    // winnow-fingerprint near-dup pairs: inverted-index join on shared
    // fingerprints within (lang, source) blocks — the pair-generation
    // half of the winnowing family.
    Q("dedup_winnow_pairs",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Dedup.winnowPairs(s.table("documents"), "doc_id", "text",
            blockCols = Seq("lang", "source"), k = 8, w = 4, threshold = 0.0)
          .where(col("fp_jaccard") > 0)
          .orderBy(desc("fp_jaccard"), col("id_a"), col("id_b"))
          .limit(50)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, lang, source,
             |         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nrm
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, lang, source,
             |    [substr(md5(substr(nrm, i, 8)), 1, 15) for i in generate_series(1, GREATEST(len(nrm) - 7, 1))] AS hs
             |  FROM d),
             |wn AS (
             |  SELECT doc_id, lang, source,
             |    list_distinct([list_aggregate(hs[j:j+3], 'min') for j in generate_series(1, GREATEST(len(hs) - 3, 1))]) AS fps
             |  FROM g)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(len(list_intersect(a.fps, b.fps)) AS DOUBLE) /
             |  CAST(len(list_distinct(list_concat(a.fps, b.fps))) AS DOUBLE) AS fp_jaccard
             |FROM wn a JOIN wn b
             |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
             |WHERE len(list_intersect(a.fps, b.fps)) > 0
             |ORDER BY fp_jaccard DESC, id_a, id_b LIMIT 50""".stripMargin)),

    // end-to-end winnow dedup: pair generation (above) COMPOSED with
    // the drop-apply half — every id_b of a >=0.5 fp-jaccard pair is
    // anti-joined out of the corpus (broadcast drop set: the corpus
    // itself never shuffles).
    Q("dedup_drop_winnow",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Dedup.dropPairedDuplicates(s.table("documents"), "doc_id",
            Dedup.winnowPairs(s.table("documents"), "doc_id", "text",
              blockCols = Seq("lang", "source"), threshold = 0.5))
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, lang, source,
             |         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nrm
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, lang, source,
             |    [substr(md5(substr(nrm, i, 8)), 1, 15) for i in generate_series(1, GREATEST(len(nrm) - 7, 1))] AS hs
             |  FROM d),
             |wn AS (
             |  SELECT doc_id, lang, source,
             |    list_distinct([list_aggregate(hs[j:j+3], 'min') for j in generate_series(1, GREATEST(len(hs) - 3, 1))]) AS fps
             |  FROM g),
             |drops AS (
             |  SELECT DISTINCT b.doc_id AS id_b
             |  FROM wn a JOIN wn b
             |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.fps, b.fps)) AS DOUBLE) /
             |        CAST(len(list_distinct(list_concat(a.fps, b.fps))) AS DOUBLE) >= 0.5)
             |SELECT doc_id, lang, source FROM documents
             |WHERE doc_id NOT IN (SELECT id_b FROM drops)
             |ORDER BY doc_id""".stripMargin)),

    // deterministic hash-based stratified sampling: en halved, de kept
    // whole, everything else quartered — md5-threshold keep decision
    // is engine-portable by construction.
    Q("sample_stratified",
      (s, dir) => {
        Tables.registerAll(s, dir)
        graft.ops.Sampling.stratifiedSample(s.table("documents"), "doc_id", "lang",
            Map("en" -> 0.5, "de" -> 1.0), defaultFraction = 0.25)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_id"))
          .orderBy(col("lang"))
      },
      Some(s"""SELECT lang, COUNT(*) AS n_kept, MIN(doc_id) AS first_id FROM documents
              |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) <
              |  CASE WHEN lang = 'en' THEN '${graft.ops.Sampling.thresholdHex(0.5)}'
              |       WHEN lang = 'de' THEN '${graft.ops.Sampling.thresholdHex(1.0)}'
              |       ELSE '${graft.ops.Sampling.thresholdHex(0.25)}' END
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // per-source frequency capping: ≤ 15 docs per source, chosen as
    // the smallest id-hashes (deterministic, order-unbiased). The
    // salted two-stage top-k bounds task size under domain skew; its
    // result is identical to the single window the oracle runs.
    Q("sample_cap_per_source",
      (s, dir) => {
        Tables.registerAll(s, dir)
        graft.ops.Sampling.capPerKey(s.table("documents"), "source", "doc_id",
            maxPerKey = 15)
          .select(col("doc_id"), col("source"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, source FROM documents
             |QUALIFY row_number() OVER (PARTITION BY source
             |  ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), doc_id) <= 15
             |ORDER BY doc_id""".stripMargin)),

    // BPE vocabulary training: k merge rounds over the word-frequency
    // table (single corpus scan; iterations are vocab-bounded). The
    // oracle unrolls the same k rounds as MATERIALIZED CTEs — plain
    // CTEs would inline w{i} twice per level and re-scan the corpus
    // 2^k times.
    Q("text_bpe_merges",
      (s, dir) => {
        Tables.registerAll(s, dir)
        graft.ops.Bpe.trainMerges(s.table("documents"), "text", numMerges = 8)
          .orderBy(col("merge_rank"))
      },
      Some(bpeOracle(8, carryWord = false) +
        "\nSELECT * FROM (" +
        (0 until 8).map(i =>
          s"SELECT CAST($i AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, " +
            s"a || b AS merged, c AS pair_count FROM m$i").mkString(" UNION ALL ") +
        ") ORDER BY merge_rank")),

    // the apply half: segment every document with the trained merges
    // (chained leftmost replace = BPE greedy); subword stream digest
    // pins the exact segmentation, not just counts
    Q("text_bpe_subwords",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        val merges = graft.ops.Bpe.trainMerges(docs, "text", numMerges = 8)
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        // the corpus is one parquet file = ONE input partition; the
        // kernel encode is per-row CPU work, so spread it (the sort
        // sampler evaluates the child too — unspread, the encode runs
        // twice single-threaded)
        docs.repartition(32, col("doc_id"))
          .select(col("doc_id"),
            graft.ops.Bpe.encodeSubwords(col("text"), merges).as("_subs"))
          .select(col("doc_id"),
            size(col("_subs")).cast("long").as("n_subwords"),
            md5(concat_ws(" ", col("_subs"))).as("subword_digest"))
          .orderBy(col("doc_id"))
      },
      Some(bpeOracle(8, carryWord = true) +
        s""",
           |seg AS (SELECT w, array_to_string(string_split(trim(s), '  '), ' ') AS sub_text,
           |               len(string_split(trim(s), '  ')) AS n_sub FROM w8),
           |tok AS (SELECT doc_id, t.w, t.pos FROM (
           |  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos
           |  FROM (SELECT doc_id, $oracleToks AS toks FROM documents)) t),
           |enc AS (SELECT tok.doc_id,
           |               COALESCE(SUM(seg.n_sub), 0) AS n_subwords,
           |               string_agg(seg.sub_text, ' ' ORDER BY tok.pos) AS stream
           |        FROM tok JOIN seg ON tok.w = seg.w GROUP BY tok.doc_id)
           |SELECT d.doc_id, CAST(COALESCE(e.n_subwords, 0) AS BIGINT) AS n_subwords,
           |       md5(COALESCE(e.stream, '')) AS subword_digest
           |FROM documents d LEFT JOIN enc e USING (doc_id) ORDER BY d.doc_id""".stripMargin)),

    // model-based quality filtering: a fastText-style logistic
    // regression over hashed bag-of-words, trained with k full-batch
    // GD steps (decimal-exact gradient sums; the DuckDB oracle
    // unrolls the identical weight trajectory)
    Q("quality_classifier_train",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val db = graft.ops.Classifier.featurize(
          s.table("documents"), "doc_id", "text",
          col("source") === "src0", LrDims)
        // the bucket key set rides the last gradient collect — the
        // standalone distinct-b job the r14 shape paid is gone
        val (w, bias, present) =
          graft.ops.Classifier.trainWeightsWithBuckets(db, LrDims, LrSteps, LrRate)
        graft.ops.Classifier.weightsDF(s, db, w, bias, Some(present))
          .orderBy("feature")
      },
      Some(s"""WITH ${logRegCtes(LrDims, LrSteps, LrRate)}
              |SELECT f AS feature, ROUND(w, 6) AS weight FROM w$LrSteps
              |ORDER BY feature""".stripMargin)),

    // the apply half: score every document under the trained model —
    // the margin rides on the materialized class table, the weights
    // as plan literals (map-side; no weights shuffle)
    Q("quality_classifier_score",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val db = graft.ops.Classifier.featurize(
          s.table("documents"), "doc_id", "text",
          col("source") === "src0", LrDims)
        val (w, bias) = graft.ops.Classifier.trainWeights(db, LrDims, LrSteps, LrRate)
        graft.ops.Classifier.score(db, w, bias).orderBy("doc_id")
      },
      Some(s"""WITH ${logRegCtes(LrDims, LrSteps, LrRate)}
              |SELECT doc_id, y AS label,
              |       ROUND(1 / (1 + exp(-marg)), 6) AS prob,
              |       (ROUND(1 / (1 + exp(-marg)), 6) >= 0.5) AS pred
              |FROM mf ORDER BY doc_id""".stripMargin)),

    // the evaluate half: reliability diagram (per-decile calibration)
    // + AUC/Brier/accuracy over the trained model's scores — AUC via
    // the tie-corrected rank sum aggregated per DISTINCT 6-dp
    // probability, never a global sort
    Q("quality_classifier_calibration",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val db = graft.ops.Classifier.featurize(
          s.table("documents"), "doc_id", "text",
          col("source") === "src0", LrDims)
        val (w, bias) = graft.ops.Classifier.trainWeights(db, LrDims, LrSteps, LrRate)
        val scored = graft.ops.Classifier.score(db, w, bias)
        graft.ops.Classifier.evalReport(scored, buckets = 10).orderBy("bucket")
      },
      // sc is MATERIALIZED: DuckDB inlines plain CTEs per reference,
      // and sc (referenced by perb/pr/gl) closes over the whole
      // unrolled-GD chain — without the hint the oracle re-runs
      // training once per reference
      Some(s"""WITH ${logRegCtes(LrDims, LrSteps, LrRate)},
              |sc AS MATERIALIZED (SELECT doc_id, y, ROUND(1 / (1 + exp(-marg)), 6) AS prob FROM mf),
              |perb AS (SELECT CAST(LEAST(FLOOR(prob * 10), 9) AS BIGINT) AS bucket,
              |    COUNT(*) AS n,
              |    ROUND(CAST(SUM(CAST(ROUND(prob, 12) AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*), 6) AS avg_prob,
              |    ROUND(SUM(y) / COUNT(*), 6) AS pos_rate
              |  FROM sc GROUP BY 1),
              |pr AS (SELECT prob, COUNT(*) AS cnt, SUM(y) AS pos FROM sc GROUP BY prob),
              |rk AS (SELECT cnt, pos,
              |    COALESCE(SUM(cnt) OVER (ORDER BY prob
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
              |  FROM pr),
              |ax AS (SELECT
              |    CAST(SUM(CAST(pos * (cumb + (cnt + 1) / 2.0) AS DECIMAL(38,15))) AS DOUBLE) AS srp,
              |    SUM(pos) AS n1, CAST(SUM(cnt) AS DOUBLE) AS nn FROM rk),
              |auct AS (SELECT ROUND((srp - n1 * (n1 + 1) / 2.0) / (n1 * (nn - n1)), 6) AS auc FROM ax),
              |gl AS (SELECT
              |    ROUND(SUM(CASE WHEN (prob >= 0.5) = (y = 1) THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS accuracy,
              |    ROUND(CAST(SUM(CAST(ROUND((prob - y) * (prob - y), 12) AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*), 6) AS brier
              |  FROM sc)
              |SELECT bucket, CAST(n AS BIGINT) AS n, avg_prob, pos_rate, auc, brier, accuracy
              |FROM perb CROSS JOIN auct CROSS JOIN gl ORDER BY bucket""".stripMargin)),

    // token-budget sampling: fill each source's budget in
    // deterministic hash order (distributed two-level prefix sum)
    Q("sample_token_budget",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val d = s.table("documents")
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        graft.ops.Sampling.sampleTokenBudget(d, "doc_id", "n_tokens",
            budget = 600L, keyCols = Seq("source"))
          .select(col("doc_id"), col("source"), col("n_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, source,
              |  CAST(len($oracleToks) AS BIGINT) AS n_tokens FROM documents),
              |c AS (SELECT doc_id, source, n_tokens,
              |  COALESCE(SUM(n_tokens) OVER (PARTITION BY source
              |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb FROM d)
              |SELECT doc_id, source, n_tokens FROM c WHERE cumb < 600
              |ORDER BY doc_id""".stripMargin)),

    // concat-and-split sequence packing: the token stream laid
    // end-to-end in hash order, cut into 512-token sequences — each
    // doc annotated with its placement
    Q("sample_pack_sequences",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val d = s.table("documents")
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        graft.ops.Sampling.packSequences(d, "doc_id", "n_tokens", seqLen = 512)
          .select(col("doc_id"), col("n_tokens"), col("seq_id"),
            col("seq_offset"), col("n_seqs"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id,
              |  CAST(len($oracleToks) AS BIGINT) AS n_tokens FROM documents),
              |c AS (SELECT doc_id, n_tokens,
              |  COALESCE(SUM(n_tokens) OVER (
              |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb FROM d)
              |SELECT doc_id, n_tokens,
              |  CAST(cumb // 512 AS BIGINT) AS seq_id,
              |  CAST(cumb % 512 AS BIGINT) AS seq_offset,
              |  CAST(CASE WHEN n_tokens <= 0 THEN 0
              |       ELSE ((cumb + n_tokens - 1) // 512) - (cumb // 512) + 1 END
              |    AS BIGINT) AS n_seqs
              |FROM c ORDER BY doc_id""".stripMargin)),

    // packing-efficiency report: fill rate + document fragmentation
    // for three candidate sequence lengths off ONE shared prefix sum
    // (per-length placement is map-side arithmetic on the same
    // _cum_before)
    Q("report_pack_efficiency",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val d = s.table("documents")
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        graft.ops.Sampling.packEfficiencyReport(d, "doc_id", "n_tokens",
            seqLens = Seq(128, 256, 512))
          .select(col("seq_len"), col("n_docs"), col("n_tokens"),
            col("n_split_docs"), col("n_seqs"), col("fill_rate"),
            col("split_rate"))
          .orderBy(col("seq_len"))
      },
      Some(s"""WITH d AS (SELECT doc_id,
              |  CAST(len($oracleToks) AS BIGINT) AS n_tokens FROM documents),
              |c AS (SELECT doc_id, n_tokens,
              |  COALESCE(SUM(n_tokens) OVER (
              |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb FROM d),
              |l AS (SELECT unnest([128, 256, 512]) AS seq_len),
              |g AS (SELECT seq_len, COUNT(*) AS n_docs, SUM(n_tokens) AS n_tokens,
              |    SUM(CASE WHEN n_tokens > 0
              |          AND (cumb + n_tokens - 1) // seq_len > cumb // seq_len
              |        THEN 1 ELSE 0 END) AS n_split_docs
              |  FROM c CROSS JOIN l GROUP BY seq_len)
              |SELECT CAST(seq_len AS BIGINT) AS seq_len,
              |  CAST(n_docs AS BIGINT) AS n_docs,
              |  CAST(n_tokens AS BIGINT) AS n_tokens,
              |  CAST(n_split_docs AS BIGINT) AS n_split_docs,
              |  CAST((n_tokens + seq_len - 1) // seq_len AS BIGINT) AS n_seqs,
              |  CASE WHEN (n_tokens + seq_len - 1) // seq_len > 0
              |       THEN ROUND(CAST(n_tokens AS DOUBLE) /
              |         (CAST((n_tokens + seq_len - 1) // seq_len AS DOUBLE) * seq_len), 6)
              |       ELSE 0.0 END AS fill_rate,
              |  CASE WHEN n_docs > 0
              |       THEN ROUND(CAST(n_split_docs AS DOUBLE) / n_docs, 6)
              |       ELSE 0.0 END AS split_rate
              |FROM g ORDER BY seq_len""".stripMargin)),

    // curriculum ordering: easiest-first deterministic training order
    // (difficulty = token count) with NTILE-semantics stages — the
    // two-level prefix-sum rank, never a global sort
    Q("sample_curriculum_order",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val d = s.table("documents")
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("difficulty"))
        graft.ops.Sampling.curriculumOrder(d, "doc_id", "difficulty", stages = 4)
          .select(col("doc_id"), col("difficulty"),
            col("curriculum_rank"), col("stage"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id,
              |  CAST(len($oracleToks) AS BIGINT) AS difficulty FROM documents)
              |SELECT doc_id, difficulty,
              |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS curriculum_rank,
              |  CAST(NTILE(4) OVER w AS BIGINT) AS stage
              |FROM d
              |WINDOW w AS (ORDER BY difficulty,
              |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // disjoint deterministic train/val/test assignment — pure
    // map-side CASE over the md5 hex threshold, no shuffle
    Q("sample_split_assign",
      (s, dir) => {
        Tables.registerAll(s, dir)
        graft.ops.Sampling.splitAssign(s.table("documents"), "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1), restLabel = "test")
          .select(col("doc_id"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id,
              |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) <
              |         '${graft.ops.Sampling.thresholdHex(0.8)}' THEN 'train'
              |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) <
              |         '${graft.ops.Sampling.thresholdHex(0.9)}' THEN 'val'
              |       ELSE 'test' END AS split
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // source-mixture planning: the largest exact-proportion corpus
    // achievable without upsampling (T = min avail_k/share_k) and each
    // source's resulting keep-rate — #domains-sized output, one
    // map-side token aggregate + a broadcast 1-row min
    Q("sample_mixture_weights",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val d = s.table("documents")
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        graft.ops.Sampling.mixtureWeights(d, "source", "n_tokens", MixTarget)
          .orderBy(col("source"))
      },
      Some(s"""WITH d AS (SELECT source,
              |  CAST(len($oracleToks) AS BIGINT) AS n_tokens FROM documents),
              |a AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_avail,
              |        $mixShareSql AS target_share
              |      FROM d GROUP BY source),
              |t AS (SELECT MIN(CAST(n_tokens_avail AS DOUBLE) / target_share) AS mt
              |      FROM a WHERE target_share > 0)
              |SELECT a.source, a.n_tokens_avail, a.target_share,
              |       COALESCE(t.mt, 0.0) AS mixture_total,
              |       a.target_share * COALESCE(t.mt, 0.0) AS n_tokens_take,
              |       CASE WHEN a.n_tokens_avail > 0
              |            THEN LEAST(a.target_share * COALESCE(t.mt, 0.0)
              |                         / CAST(a.n_tokens_avail AS DOUBLE), 1.0)
              |            ELSE 0.0 END AS rate
              |FROM a CROSS JOIN t ORDER BY source""".stripMargin)),

    // the apply half: Bernoulli-realize the mixture plan — keep each
    // row iff hash60(id) < floor(rate·2^60), rates broadcast-joined
    Q("sample_mixture_draw",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val d = s.table("documents")
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        graft.ops.Sampling.mixtureSample(d, "doc_id", "source", "n_tokens", MixTarget)
          .select(col("doc_id"), col("source"), col("n_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, source,
              |  CAST(len($oracleToks) AS BIGINT) AS n_tokens FROM documents),
              |a AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_avail,
              |        $mixShareSql AS target_share
              |      FROM d GROUP BY source),
              |t AS (SELECT MIN(CAST(n_tokens_avail AS DOUBLE) / target_share) AS mt
              |      FROM a WHERE target_share > 0),
              |r AS (SELECT a.source,
              |        CASE WHEN a.n_tokens_avail > 0
              |             THEN LEAST(a.target_share * COALESCE(t.mt, 0.0)
              |                          / CAST(a.n_tokens_avail AS DOUBLE), 1.0)
              |             ELSE 0.0 END AS rate
              |      FROM a CROSS JOIN t)
              |SELECT d.doc_id, d.source, d.n_tokens
              |FROM d JOIN r USING (source)
              |WHERE CAST(CONCAT('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              |      < CAST(floor(r.rate * 1152921504606846976) AS BIGINT)
              |ORDER BY d.doc_id""".stripMargin)),

    // temperature-smoothed mixture plan (q_k ∝ p_k^α, the
    // multilingual-LM sampling rule) for a 20k-token budget at α=0.5
    Q("sample_mixture_temperature",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val d = s.table("documents")
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        graft.ops.Sampling.mixtureTemperature(d, "source", "n_tokens",
            alpha = 0.5, totalTokens = 20000L)
          .orderBy(col("source"))
      },
      Some(s"""WITH d AS (SELECT source,
              |  CAST(len($oracleToks) AS BIGINT) AS n_tokens FROM documents),
              |a AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_avail
              |      FROM d GROUP BY source),
              |t AS (SELECT CAST(SUM(n_tokens_avail) AS DOUBLE) AS tt,
              |             SUM(POWER(CAST(n_tokens_avail AS DOUBLE), 0.5)) AS ta FROM a)
              |SELECT a.source, a.n_tokens_avail,
              |  ROUND(a.n_tokens_avail / t.tt, 6) AS p_raw,
              |  ROUND(POWER(CAST(a.n_tokens_avail AS DOUBLE), 0.5) / t.ta, 6) AS q_temp,
              |  ROUND(POWER(CAST(a.n_tokens_avail AS DOUBLE), 0.5) / t.ta * 20000, 3) AS n_tokens_take,
              |  ROUND(LEAST(POWER(CAST(a.n_tokens_avail AS DOUBLE), 0.5) / t.ta * 20000
              |                / CAST(a.n_tokens_avail AS DOUBLE), 1.0), 6) AS rate
              |FROM a CROSS JOIN t ORDER BY source""".stripMargin)),

    // quality-aware canonical selection: keep the LONGEST copy of each
    // near-dup cluster (score = token count), not the min-id one
    Q("dedup_canonical_best",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
            k = 16, bands = 4, n = 3, threshold = 0.25)
        val scored = docs
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        Dedup.canonicalByScore(scored, "doc_id", "n_tokens", pairs)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $minhashOracleCtes,
              |prs AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.25),
              |eg AS (SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b, id_a FROM prs),
              |walk(node, lbl) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT e.b, w.lbl FROM walk w JOIN eg e ON e.a = w.node),
              |comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node),
              |sc AS (SELECT doc_id, CAST(len($oracleToks) AS BIGINT) AS score FROM documents)
              |SELECT sc.doc_id, sc.score, comp.cluster_id,
              |  FIRST_VALUE(sc.doc_id) OVER (PARTITION BY comp.cluster_id
              |    ORDER BY sc.score DESC, sc.doc_id) AS canonical_id,
              |  sc.doc_id = FIRST_VALUE(sc.doc_id) OVER (PARTITION BY comp.cluster_id
              |    ORDER BY sc.score DESC, sc.doc_id) AS is_canonical
              |FROM sc JOIN comp USING (doc_id) ORDER BY sc.doc_id""".stripMargin)),

    // tokenizer fertility: subwords/word + chars/subword per source
    // under the corpus-trained 8-merge vocabulary
    Q("text_bpe_fertility",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        // ONE corpus scan: the keyed word-count table feeds both the
        // trainer (key summed away) and the fertility aggregate
        val wcKey = graft.ops.Bpe.keyedWordCounts(docs, "source", "text")
          .localCheckpoint(true)
        val wc = wcKey.groupBy(col("w")).agg(sum(col("freq")).as("freq"))
        val merges = graft.ops.Bpe.trainMergesFromWordCounts(wc, numMerges = 8)
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        graft.ops.Bpe.fertilityFromWordCounts(wcKey, "source", merges)
          .orderBy(col("source"))
      },
      Some(bpeOracle(8, carryWord = true) +
        s""",
           |seg AS (SELECT w, len(string_split(trim(s), '  ')) AS n_sub FROM w8),
           |tok AS (SELECT source, unnest(toks) AS w
           |        FROM (SELECT source, $oracleToks AS toks FROM documents))
           |SELECT tok.source, COUNT(*) AS n_words,
           |  CAST(SUM(seg.n_sub) AS BIGINT) AS n_subwords,
           |  CAST(SUM(len(tok.w)) AS BIGINT) AS n_chars,
           |  ROUND(CAST(SUM(seg.n_sub) AS DOUBLE) / COUNT(*), 6) AS fertility,
           |  ROUND(CAST(SUM(len(tok.w)) AS DOUBLE) / SUM(seg.n_sub), 6) AS chars_per_subword
           |FROM tok JOIN seg USING (w) GROUP BY tok.source
           |ORDER BY tok.source""".stripMargin)),

    // Gopher-rule document filter: length / mean-word-length / alpha /
    // stopword / repetition rules with per-rule booleans — one
    // map-side kernel pass, zero shuffle
    Q("quality_gopher_filter",
      (s, dir) => {
        Tables.registerAll(s, dir)
        TextAnalysis.gopherFilter(s.table("documents"), "text",
            minTokens = 50, maxTokens = 100000)
          .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
            col("alpha_frac"), col("n_stopwords"), col("dup_2gram_frac"),
            col("top_word_frac"), col("r_length"), col("r_word_len"),
            col("r_alpha"), col("r_stop"), col("r_rep"), col("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, $oracleToks AS toks FROM documents),
              |r AS (SELECT doc_id, toks, len(toks) AS n,
              |  CASE WHEN len(toks) >= 2 THEN [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)] ELSE [] END AS g2
              |  FROM d),
              |m AS (SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
              |  CASE WHEN n > 0 THEN CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / n ELSE 0.0 END AS mean_word_len,
              |  CASE WHEN n > 0 THEN CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / n ELSE 0.0 END AS alpha_frac,
              |  CAST(len(list_intersect(list_distinct(toks), ['the','a','of','and','to','in','is','that','it','for'])) AS BIGINT) AS n_stopwords,
              |  CASE WHEN len(g2) > 0 THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) ELSE 0.0 END AS dup_2gram_frac,
              |  CASE WHEN n > 0 THEN CAST(list_max([len(list_filter(toks, x -> x = t)) for t in list_distinct(toks)]) AS DOUBLE) / n ELSE 0.0 END AS top_word_frac
              |  FROM r)
              |SELECT doc_id, n_tokens, mean_word_len, alpha_frac, n_stopwords,
              |  dup_2gram_frac, top_word_frac,
              |  (n_tokens >= 50 AND n_tokens <= 100000) AS r_length,
              |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_word_len,
              |  (alpha_frac >= 0.8) AS r_alpha,
              |  (n_stopwords >= 2) AS r_stop,
              |  (dup_2gram_frac <= 0.2 AND top_word_frac <= 0.3) AS r_rep,
              |  (n_tokens >= 50 AND n_tokens <= 100000
              |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
              |   AND alpha_frac >= 0.8 AND n_stopwords >= 2
              |   AND dup_2gram_frac <= 0.2 AND top_word_frac <= 0.3) AS keep
              |FROM m ORDER BY doc_id""".stripMargin)),

    // first-occurrence novelty: fraction of each doc's distinct
    // 3-grams first seen (min doc id) in that doc — shingle explode →
    // (gram → min doc) aggregate → equi-join back
    Q("text_novelty",
      (s, dir) => {
        Tables.registerAll(s, dir)
        TextAnalysis.noveltyScore(s.table("documents"), "doc_id", "text", n = 3)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, $oracleToks AS toks FROM documents),
              |g0 AS (SELECT doc_id, $oracleShingles AS gs FROM d),
              |g AS (SELECT doc_id, unnest(gs) AS gram FROM g0),
              |f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
              |SELECT g.doc_id, COUNT(*) AS n_grams,
              |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
              |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty_frac
              |FROM g JOIN f USING (gram)
              |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin)),

    // per-source document-length profile: totals + exact interpolated
    // token-count percentiles (both engines: linear interpolation at
    // rank p·(n−1); ROUND(6) absorbs last-ulp interpolation order)
    Q("corpus_length_stats",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val st = TextAnalysis.lengthStats(s.table("documents"), "source", "text")
        st.select(col("source"), col("n_docs"), col("n_tokens"),
            col("min_tokens"), col("max_tokens"),
            round(col("p50_tokens"), 6).as("p50_tokens"),
            round(col("p90_tokens"), 6).as("p90_tokens"),
            round(col("p99_tokens"), 6).as("p99_tokens"))
          .orderBy(col("source"))
      },
      Some(s"""WITH d AS (SELECT source, len($oracleToks) AS n FROM documents)
              |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens,
              |  CAST(MIN(n) AS BIGINT) AS min_tokens, CAST(MAX(n) AS BIGINT) AS max_tokens,
              |  ROUND(quantile_cont(n, 0.5), 6) AS p50_tokens,
              |  ROUND(quantile_cont(n, 0.9), 6) AS p90_tokens,
              |  ROUND(quantile_cont(n, 0.99), 6) AS p99_tokens
              |FROM d GROUP BY source ORDER BY source""".stripMargin)),

    // corpus vocabulary report: vocab size, hapax count, head
    // concentration — term counts → two 1-row aggregates (full vocab
    // + bounded top-k), attached by a 1-row crossJoin
    Q("corpus_vocab_report",
      (s, dir) => {
        Tables.registerAll(s, dir)
        TextAnalysis.vocabReport(s.table("documents"), "text", k = 10)
      },
      Some(s"""WITH t AS (SELECT unnest($oracleToks) AS term FROM documents),
              |c AS (SELECT term, COUNT(*) AS c FROM t GROUP BY term),
              |tot AS (SELECT COUNT(*) AS vocab_size,
              |        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
              |        CAST(SUM(c) AS BIGINT) AS total_tokens FROM c),
              |tk AS (SELECT CAST(SUM(c) AS BIGINT) AS top10_tokens
              |       FROM (SELECT c FROM c ORDER BY c DESC, term LIMIT 10))
              |SELECT tot.vocab_size, tot.n_hapax, tot.total_tokens, tk.top10_tokens,
              |       CAST(tk.top10_tokens AS DOUBLE) / tot.total_tokens AS top10_share
              |FROM tot CROSS JOIN tk""".stripMargin)),

    // ordered global-redaction chain (sensitive-term + PII masking):
    // codegen'd regexp_replace, one scan, no shuffle — the match
    // count comes from the pre-redaction text
    Q("text_redact",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val term = "\\b(customer|spark|vector)\\b"
        val mail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        s.table("documents").select(
            col("doc_id"),
            TextAnalysis.redact(col("text"),
              Seq(term -> "[TERM]", mail -> "[EMAIL]")).as("red"),
            TextAnalysis.matchCount(col("text"), term).as("n_term"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  regexp_replace(regexp_replace(text, '\b(customer|spark|vector)\b', '[TERM]', 'g'),
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS red,
             |  len(regexp_extract_all(text, '\b(customer|spark|vector)\b')) AS n_term
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition quality stats: duplicate word/2-gram/
    // 3-gram fractions + top-word share, one fused-kernel map pass.
    // All fractions are exact-integer double divisions → bit-exact
    // across engines, no rounding needed.
    Q("text_repetition",
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.table("documents")
          .select(col("doc_id"), TextAnalysis.repetitionStats(col("text")).as("_r"))
          .select(col("doc_id"),
            col("_r.n_tokens").as("n_tokens"),
            col("_r.dup_word_frac").as("dup_word_frac"),
            col("_r.dup_2gram_frac").as("dup_2gram_frac"),
            col("_r.dup_3gram_frac").as("dup_3gram_frac"),
            col("_r.top_word_frac").as("top_word_frac"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, $oracleToks AS toks FROM documents),
              |r AS (
              |  SELECT doc_id, toks, len(toks) AS n, len(list_distinct(toks)) AS nd,
              |    CASE WHEN len(toks) >= 2 THEN [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)] ELSE [] END AS g2,
              |    CASE WHEN len(toks) >= 3 THEN [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)] ELSE [] END AS g3
              |  FROM d)
              |SELECT doc_id, n AS n_tokens,
              |  CAST(n - nd AS DOUBLE) / GREATEST(n, 1) AS dup_word_frac,
              |  CASE WHEN len(g2) > 0 THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) ELSE 0.0 END AS dup_2gram_frac,
              |  CASE WHEN len(g3) > 0 THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3) ELSE 0.0 END AS dup_3gram_frac,
              |  CASE WHEN n > 0 THEN CAST(list_max([len(list_filter(toks, x -> x = t)) for t in list_distinct(toks)]) AS DOUBLE) / n ELSE 0.0 END AS top_word_frac
              |FROM r ORDER BY doc_id""".stripMargin)),

    // benchmark decontamination: distinct 3-gram overlap of every
    // non-src0 document against the src0 "eval set"; contaminated =
    // ≥ 2 shared grams. Inverted-index equi-join — the eval side
    // collapses to a small distinct gram set (AQE-broadcastable).
    Q("decontaminate_overlap",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        graft.ops.Decontaminate.overlap(
            docs.where(col("source") =!= "src0"),
            docs.where(col("source") === "src0"),
            "doc_id", "text", n = 3, minHits = 2)
          .select(col("doc_id"), col("n_hits"), col("contaminated"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, source, $oracleToks AS toks FROM documents),
              |g AS (
              |  SELECT doc_id, source, $oracleShingles AS gs FROM d),
              |bg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE source = 'src0'),
              |dg AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE source <> 'src0'),
              |h AS (SELECT dg.doc_id, COUNT(*) AS n_hits FROM dg JOIN bg USING (gram) GROUP BY dg.doc_id)
              |SELECT g.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
              |       COALESCE(h.n_hits, 0) >= 2 AS contaminated
              |FROM g LEFT JOIN h ON g.doc_id = h.doc_id
              |WHERE g.source <> 'src0'
              |ORDER BY g.doc_id""".stripMargin)),

    // the Bloom-candidate scale arm of the same test: the eval gram
    // set sketches to one plan-literal bitset that prefilters the
    // corpus gram stream MAP-SIDE, and the exact join over the
    // survivors kills every false positive — so the oracle is the
    // EXACT overlap SQL, not an approximation. The arm for eval
    // suites too large to broadcast as a join hash relation.
    Q("decontaminate_bloom",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        graft.ops.Decontaminate.overlapBloom(
            docs.where(col("source") =!= "src0"),
            docs.where(col("source") === "src0"),
            "doc_id", "text", n = 3, minHits = 1)
          .select(col("doc_id"), col("n_hits"), col("contaminated"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, source, $oracleToks AS toks FROM documents),
              |g AS (
              |  SELECT doc_id, source, $oracleShingles AS gs FROM d),
              |bg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE source = 'src0'),
              |dg AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE source <> 'src0'),
              |h AS (SELECT dg.doc_id, COUNT(*) AS n_hits FROM dg JOIN bg USING (gram) GROUP BY dg.doc_id)
              |SELECT g.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
              |       COALESCE(h.n_hits, 0) >= 1 AS contaminated
              |FROM g LEFT JOIN h ON g.doc_id = h.doc_id
              |WHERE g.source <> 'src0'
              |ORDER BY g.doc_id""".stripMargin)),

    // end-to-end curation pipeline: quality filter (token count +
    // duplicate-word fraction) → exact-dup drop → benchmark
    // decontamination → deterministic train/val/test split. One plan:
    // the quality gate and split label are map-side, the dedup keeps
    // min-id per digest, the decontamination is the inverted-index
    // semi-join — the composition a 100 TB curation run would
    // actually execute.
    Q("pipeline_curate",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        val bench = docs.where(col("source") === "src0")
        // spread before the heavy per-row repetition/token kernels
        // (single-file fixture = one task otherwise; identity on a
        // wide real scan)
        val q = graft.ops.Spread.ifNarrow(
            docs.where(col("source") =!= "src0"), col("doc_id"))
          .withColumn("_r", TextAnalysis.repetitionStats(col("text")))
          .where(col("_r.n_tokens") >= 25 && col("_r.dup_word_frac") <= 0.55)
          .drop("_r")
        val deduped = Dedup.dropExactDuplicates(q, "doc_id", "text")
        val clean = graft.ops.Decontaminate.drop(deduped, bench, "doc_id", "text",
          n = 3, minHits = 2)
        graft.ops.Sampling.splitAssign(clean, "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1), restLabel = "test")
          .select(col("doc_id"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, text, $oracleToks AS toks FROM documents WHERE source <> 'src0'),
              |q AS (
              |  SELECT doc_id, text, toks FROM t
              |  WHERE len(toks) >= 25
              |    AND CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / GREATEST(len(toks), 1) <= 0.55),
              |e AS (
              |  SELECT q.doc_id, q.text, q.toks FROM q
              |  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS m FROM q GROUP BY 1) k
              |    ON md5(q.text) = k.h AND q.doc_id = k.m),
              |bt AS (SELECT doc_id, $oracleToks AS toks FROM documents WHERE source = 'src0'),
              |bg AS (SELECT DISTINCT unnest($oracleShingles) AS gram FROM bt),
              |dg AS (SELECT doc_id, unnest($oracleShingles) AS gram FROM e),
              |contam AS (
              |  SELECT dg.doc_id FROM dg JOIN bg USING (gram)
              |  GROUP BY dg.doc_id HAVING COUNT(*) >= 2)
              |SELECT doc_id,
              |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) <
              |         '${graft.ops.Sampling.thresholdHex(0.8)}' THEN 'train'
              |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) <
              |         '${graft.ops.Sampling.thresholdHex(0.9)}' THEN 'val'
              |       ELSE 'test' END AS split
              |FROM e WHERE doc_id NOT IN (SELECT doc_id FROM contam)
              |ORDER BY doc_id""".stripMargin)),

    // the full curation composition with the round's operators: Gopher
    // quality rules → exact-dup drop → benchmark decontamination →
    // source-mixture Bernoulli draw (rates computed on the SURVIVING
    // corpus) → train/val/test split — one plan end-to-end
    Q("pipeline_curate_mix",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        val bench = docs.where(col("source") === "src0")
        // the chain below is all broadcast joins — nothing ever
        // re-spreads a single-file fixture, so the heavy tokenize/
        // gram stages would run in ONE task (StageProfile showed a
        // 1.5 s single-task stage). Guarded: a wide real scan passes
        // through untouched.
        val corpus = graft.ops.Spread.ifNarrow(
          docs.where(col("source") =!= "src0"), col("doc_id"))
        val kept = TextAnalysis.gopherFilter(corpus, "text")
          .where(col("keep"))
          .select(corpus.columns.map(col): _*)
        val deduped = Dedup.dropExactDuplicates(kept, "doc_id", "text")
        // pin the surviving corpus ONCE: mixtureSample consumes it
        // twice (the rate aggregate and the outer Bernoulli scan) and
        // the quality→dedup→decontaminate chain above is the whole
        // query's cost — without the pin each consumer re-runs it.
        // At scale this materialization is the curated snapshot a real
        // pipeline persists anyway before drawing the mixture.
        val clean = graft.ops.Decontaminate.drop(deduped, bench, "doc_id", "text",
            n = 3, minHits = 4)
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
          .select(col("doc_id"), col("source"), col("n_tokens"))
          .localCheckpoint(true)
        val mixed = graft.ops.Sampling.mixtureSample(
          clean, "doc_id", "source", "n_tokens", MixTargetPipe)
        graft.ops.Sampling.splitAssign(mixed, "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1), restLabel = "test")
          .select(col("doc_id"), col("source"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, text, source, $oracleToks AS toks FROM documents WHERE source <> 'src0'),
              |rr AS (SELECT doc_id, toks, len(toks) AS n,
              |  CASE WHEN len(toks) >= 2 THEN [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)] ELSE [] END AS g2
              |  FROM t),
              |mm AS (SELECT doc_id,
              |  (n >= 50 AND n <= 100000
              |   AND CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / n >= 3.0
              |   AND CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / n <= 10.0
              |   AND CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / n >= 0.8
              |   AND len(list_intersect(list_distinct(toks), ['the','a','of','and','to','in','is','that','it','for'])) >= 2
              |   AND (len(g2) = 0 OR CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) <= 0.2)
              |   AND CAST(list_max([len(list_filter(toks, x -> x = y)) for y in list_distinct(toks)]) AS DOUBLE) / n <= 0.3) AS keep
              |  FROM rr WHERE n > 0),
              |q AS (SELECT t.* FROM t JOIN mm USING (doc_id) WHERE mm.keep),
              |e AS (
              |  SELECT q.* FROM q
              |  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS m FROM q GROUP BY 1) k
              |    ON md5(q.text) = k.h AND q.doc_id = k.m),
              |bt AS (SELECT doc_id, $oracleToks AS toks FROM documents WHERE source = 'src0'),
              |bg AS (SELECT DISTINCT unnest($oracleShingles) AS gram FROM bt),
              |dg AS (SELECT doc_id, unnest($oracleShingles) AS gram FROM e),
              |contam AS (
              |  SELECT dg.doc_id FROM dg JOIN bg USING (gram)
              |  GROUP BY dg.doc_id HAVING COUNT(*) >= 4),
              |c AS (SELECT doc_id, source, len(toks) AS n_tokens FROM e
              |      WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
              |a AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS avail,
              |        $mixShareSqlPipe AS share
              |      FROM c GROUP BY source),
              |tm AS (SELECT MIN(CAST(avail AS DOUBLE) / share) AS mt FROM a WHERE share > 0),
              |rt AS (SELECT a.source,
              |        CASE WHEN a.avail > 0
              |             THEN LEAST(a.share * COALESCE(tm.mt, 0.0) / CAST(a.avail AS DOUBLE), 1.0)
              |             ELSE 0.0 END AS rate
              |      FROM a CROSS JOIN tm)
              |SELECT c.doc_id, c.source,
              |  CASE WHEN substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 15) <
              |         '${graft.ops.Sampling.thresholdHex(0.8)}' THEN 'train'
              |       WHEN substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 15) <
              |         '${graft.ops.Sampling.thresholdHex(0.9)}' THEN 'val'
              |       ELSE 'test' END AS split
              |FROM c JOIN rt USING (source)
              |WHERE CAST(CONCAT('0x', substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              |      < CAST(floor(rt.rate * 1152921504606846976) AS BIGINT)
              |ORDER BY c.doc_id""".stripMargin)),

    // symmetric int8 quantization of the embedding corpus: scale,
    // integer checksum, saturation count and max reconstruction error.
    Q("ann_quantize_int8",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Similarity.quantizeInt8(s.table("embeddings"), "embedding")
          // error computed BEFORE the rounding projection: a lateral
          // column alias would otherwise resolve q_scale to its own
          // rounded alias in the same select list
          .withColumn("_err", array_max(zip_with(
            transform(col("embedding"), x => x.cast("double")), col("q_vec"),
            (x, q) => abs(x - q.cast("double") * col("q_scale")))))
          .select(col("vec_id"),
            round(col("q_scale"), 6).as("q_scale"),
            aggregate(col("q_vec"), lit(0L), (a, x) => a + x).as("q_sum"),
            size(filter(col("q_vec"), x => abs(x) === 127)).cast("long").as("q_sat"),
            round(col("_err"), 6).as("q_err"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH v AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |a AS (
             |  SELECT vec_id, e, list_aggregate(list_transform(e, x -> abs(x)), 'max') AS amax FROM v),
             |q AS (
             |  SELECT vec_id, e, amax,
             |    CASE WHEN amax > 0 THEN list_transform(e, x -> CAST(floor(x / amax * 127 + 0.5) AS BIGINT))
             |         ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END AS qv,
             |    CASE WHEN amax > 0 THEN amax / 127 ELSE 0.0 END AS scale
             |  FROM a)
             |SELECT vec_id, ROUND(scale, 6) AS q_scale,
             |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
             |  CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS q_sat,
             |  ROUND(list_aggregate([abs(e[i] - qv[i] * scale) for i in generate_series(1, len(e))], 'max'), 6) AS q_err
             |FROM q ORDER BY vec_id""".stripMargin)),

    // hybrid lexical+dense retrieval: BM25 top-k ∪ cosine top-k fused
    // by reciprocal rank (1/(60+r)); postings filtered to the query
    // terms map-side, both branches end in TakeOrderedAndProject
    Q("search_hybrid_rrf",
      (s, dir) => {
        Tables.registerAll(s, dir)
        graft.ops.Retrieval.hybridTopK(
            s.table("documents"), s.table("embeddings"),
            Seq("spark", "merge", "window"),
            s.table("embeddings").where(col("vec_id") === 7),
            k = 15)
          .select(col("id").as("doc_id"), col("r_bm25"), col("r_cos"),
            round(col("rrf_score"), 9).as("rrf_score"))
          .orderBy(col("rrf_score").desc, col("doc_id"))
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id AS id, $oracleToks AS toks,
              |         CAST(len($oracleToks) AS DOUBLE) AS doclen
              |  FROM documents),
              |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(doclen) AS avgdl FROM base),
              |tf AS (
              |  SELECT id, doclen, term, CAST(COUNT(*) AS DOUBLE) AS tf
              |  FROM (SELECT id, doclen,
              |          unnest(list_filter(toks, t -> list_contains(['spark','merge','window'], t))) AS term
              |        FROM base)
              |  GROUP BY id, doclen, term),
              |dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
              |bm AS (
              |  SELECT id, SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
              |               / (tf + 1.2 * (0.25 + 0.75 * doclen / avgdl))) AS _score
              |  FROM tf JOIN dft USING (term) CROSS JOIN stats GROUP BY id),
              |bmtop AS (
              |  SELECT id, ROW_NUMBER() OVER (ORDER BY ROUND(_score, 9) DESC, id) AS r_bm25
              |  FROM bm QUALIFY r_bm25 <= 15),
              |qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 7),
              |cs AS (
              |  SELECT e.vec_id AS id, ${oracleCosine("e.embedding", "q.v")} AS cosine
              |  FROM embeddings e CROSS JOIN qv q),
              |costop AS (
              |  SELECT id, ROW_NUMBER() OVER (ORDER BY ROUND(cosine, 9) DESC, id) AS r_cos
              |  FROM cs QUALIFY r_cos <= 15)
              |SELECT COALESCE(b.id, c.id) AS doc_id, b.r_bm25, c.r_cos,
              |       ROUND(COALESCE(1.0 / (60.0 + b.r_bm25), 0.0)
              |             + COALESCE(1.0 / (60.0 + c.r_cos), 0.0), 9) AS rrf_score
              |FROM bmtop b FULL OUTER JOIN costop c ON b.id = c.id
              |ORDER BY rrf_score DESC, doc_id LIMIT 15""".stripMargin)),

    // leakage-safe split: near-duplicate clusters (minhash pairs →
    // connected components) are hashed as a UNIT, so a duplicate
    // family never straddles train/test
    Q("sample_split_leakage_safe",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
            k = 16, bands = 4, n = 3, threshold = 0.25)
        graft.ops.Sampling.splitAssignByCluster(docs, "doc_id", pairs,
            splits = Seq("train" -> 0.8, "val" -> 0.1), restLabel = "test")
          .select(col("doc_id"), col("cluster_id"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $minhashOracleCtes,
              |prs AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.25),
              |eg AS (SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b, id_a FROM prs),
              |walk(node, lbl) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT e.b, w.lbl FROM walk w JOIN eg e ON e.a = w.node),
              |comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node)
              |SELECT doc_id, cluster_id,
              |  CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15) <
              |         '${graft.ops.Sampling.thresholdHex(0.8)}' THEN 'train'
              |       WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15) <
              |         '${graft.ops.Sampling.thresholdHex(0.9)}' THEN 'val'
              |       ELSE 'test' END AS split
              |FROM comp ORDER BY doc_id""".stripMargin)),

    // one-row curation funnel: doc/token survival through quality →
    // exact dedup → decontamination, as flags on ONE corpus pass
    Q("report_curation_funnel",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        TextAnalysis.curationFunnel(
          docs.where(col("source") =!= "src0"),
          docs.where(col("source") === "src0"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, text, $oracleToks AS toks FROM documents WHERE source <> 'src0'),
              |rr AS (SELECT doc_id, toks, len(toks) AS n,
              |  CASE WHEN len(toks) >= 2 THEN [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)] ELSE [] END AS g2
              |  FROM t),
              |mm AS (SELECT doc_id,
              |  (n >= 50 AND n <= 100000
              |   AND CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / n >= 3.0
              |   AND CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / n <= 10.0
              |   AND CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / n >= 0.8
              |   AND len(list_intersect(list_distinct(toks), ['the','a','of','and','to','in','is','that','it','for'])) >= 2
              |   AND (len(g2) = 0 OR CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) <= 0.2)
              |   AND CAST(list_max([len(list_filter(toks, x -> x = y)) for y in list_distinct(toks)]) AS DOUBLE) / n <= 0.3) AS keep
              |  FROM rr WHERE n > 0),
              |f AS (
              |  SELECT t.doc_id, t.text, CAST(len(t.toks) AS BIGINT) AS n_tokens,
              |         COALESCE(mm.keep, FALSE) AS keep
              |  FROM t LEFT JOIN mm USING (doc_id)),
              |canon AS (
              |  SELECT doc_id, n_tokens, keep,
              |         (keep AND doc_id = MIN(CASE WHEN keep THEN doc_id END)
              |            OVER (PARTITION BY md5(text))) AS is_canon
              |  FROM f),
              |bt AS (SELECT doc_id, $oracleToks AS toks FROM documents WHERE source = 'src0'),
              |bg AS (SELECT DISTINCT unnest($oracleShingles) AS gram FROM bt),
              |dg AS (SELECT doc_id, unnest($oracleShingles) AS gram FROM t),
              |hits AS (
              |  SELECT doc_id, COUNT(*) AS nh FROM dg JOIN bg USING (gram) GROUP BY doc_id)
              |SELECT
              |  CAST(COUNT(*) AS BIGINT) AS n_input,
              |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_input,
              |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
              |  CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_quality,
              |  CAST(SUM(CASE WHEN is_canon THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
              |  CAST(SUM(CASE WHEN is_canon THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_dedup,
              |  CAST(SUM(CASE WHEN is_canon AND COALESCE(h.nh, 0) < 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
              |  CAST(SUM(CASE WHEN is_canon AND COALESCE(h.nh, 0) < 4 THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_clean
              |FROM canon LEFT JOIN hits h USING (doc_id)""".stripMargin)),

    // per-source curation funnel: the same one-pass flags, one row per
    // source (dup groups / contamination still corpus-global)
    Q("report_funnel_by_source",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        TextAnalysis.curationFunnelBy(
            docs.where(col("source") =!= "src0"),
            docs.where(col("source") === "src0"), "source")
          .orderBy(col("source"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, text, source, $oracleToks AS toks FROM documents WHERE source <> 'src0'),
              |rr AS (SELECT doc_id, toks, len(toks) AS n,
              |  CASE WHEN len(toks) >= 2 THEN [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)] ELSE [] END AS g2
              |  FROM t),
              |mm AS (SELECT doc_id,
              |  (n >= 50 AND n <= 100000
              |   AND CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / n >= 3.0
              |   AND CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / n <= 10.0
              |   AND CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / n >= 0.8
              |   AND len(list_intersect(list_distinct(toks), ['the','a','of','and','to','in','is','that','it','for'])) >= 2
              |   AND (len(g2) = 0 OR CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) <= 0.2)
              |   AND CAST(list_max([len(list_filter(toks, x -> x = y)) for y in list_distinct(toks)]) AS DOUBLE) / n <= 0.3) AS keep
              |  FROM rr WHERE n > 0),
              |f AS (
              |  SELECT t.doc_id, t.text, t.source, CAST(len(t.toks) AS BIGINT) AS n_tokens,
              |         COALESCE(mm.keep, FALSE) AS keep
              |  FROM t LEFT JOIN mm USING (doc_id)),
              |canon AS (
              |  SELECT doc_id, source, n_tokens, keep,
              |         (keep AND doc_id = MIN(CASE WHEN keep THEN doc_id END)
              |            OVER (PARTITION BY md5(text))) AS is_canon
              |  FROM f),
              |bt AS (SELECT doc_id, $oracleToks AS toks FROM documents WHERE source = 'src0'),
              |bg AS (SELECT DISTINCT unnest($oracleShingles) AS gram FROM bt),
              |dg AS (SELECT doc_id, unnest($oracleShingles) AS gram FROM t),
              |hits AS (
              |  SELECT doc_id, COUNT(*) AS nh FROM dg JOIN bg USING (gram) GROUP BY doc_id)
              |SELECT source,
              |  CAST(COUNT(*) AS BIGINT) AS n_input,
              |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_input,
              |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
              |  CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_quality,
              |  CAST(SUM(CASE WHEN is_canon THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
              |  CAST(SUM(CASE WHEN is_canon THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_dedup,
              |  CAST(SUM(CASE WHEN is_canon AND COALESCE(h.nh, 0) < 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
              |  CAST(SUM(CASE WHEN is_canon AND COALESCE(h.nh, 0) < 4 THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_clean
              |FROM canon LEFT JOIN hits h USING (doc_id)
              |GROUP BY source ORDER BY source""".stripMargin)),

    // LSH calibration: estimate-vs-exact Jaccard per estimate bucket
    // over the candidate pairs — the bands/threshold-selection report
    Q("report_lsh_calibration",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Dedup.lshCalibration(s.table("documents"), "doc_id", "text",
            k = 16, bands = 4, n = 3)
          .orderBy(col("est_bucket"))
      },
      Some(s"""WITH $minhashOracleCtes,
              |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
              |iv AS (
              |  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS iv
              |  FROM cand c
              |  JOIN sh sa ON sa.doc_id = c.id_a
              |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
              |  GROUP BY c.id_a, c.id_b),
              |j AS (
              |  SELECT e.est_jaccard,
              |         CAST(COALESCE(iv.iv, 0) AS DOUBLE)
              |           / (sa.sz + sb.sz - COALESCE(iv.iv, 0)) AS jac
              |  FROM est e
              |  LEFT JOIN iv USING (id_a, id_b)
              |  JOIN sz sa ON sa.doc_id = e.id_a
              |  JOIN sz sb ON sb.doc_id = e.id_b)
              |SELECT CAST(ROUND(est_jaccard * 16) AS INT) AS est_bucket,
              |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
              |  CAST(SUM(CASE WHEN jac >= 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_ge_025,
              |  ROUND(CAST(SUM(CAST(ROUND(abs(est_jaccard - jac), 12) AS DECIMAL(38,15))) AS DOUBLE), 6) AS sum_abs_err
              |FROM j GROUP BY 1 ORDER BY est_bucket""".stripMargin)),

    // source-pair similarity report: exact shingle-set Jaccard
    // (inverted-index gram join) next to the 16-seed minhash estimate
    // — the "are two sources near-copies?" table a mixture designer
    // reads before weighting them independently
    Q("report_source_similarity",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Dedup.sourceSimilarity(s.table("documents"), "source", "text",
            k = 16, n = 3)
          .orderBy(col("key_a"), col("key_b"))
      },
      Some(s"""WITH d AS (SELECT source, $oracleToks AS toks FROM documents),
              |s2 AS (SELECT source, $oracleShingles AS shs FROM d),
              |sh0 AS (SELECT source, unnest(shs) AS s FROM s2),
              |dist AS (SELECT DISTINCT source,
              |    (('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS h FROM sh0),
              |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ng FROM dist GROUP BY source),
              |cm AS (SELECT a.source AS key_a, b.source AS key_b,
              |         CAST(COUNT(*) AS BIGINT) AS n_common
              |       FROM dist a JOIN dist b ON a.h = b.h AND a.source < b.source
              |       GROUP BY 1, 2),
              |sig AS (SELECT source, seed,
              |         MIN(((2*seed + 1) * h + 1000003*seed + 12345) % 2147483647) AS sig
              |       FROM dist, (SELECT unnest(generate_series(0, 15)) AS seed)
              |       GROUP BY source, seed),
              |ag AS (SELECT x.source AS key_a, y.source AS key_b,
              |         CAST(COUNT(*) AS BIGINT) AS na
              |       FROM sig x JOIN sig y
              |         ON x.seed = y.seed AND x.sig = y.sig AND x.source < y.source
              |       GROUP BY 1, 2)
              |SELECT cm.key_a, cm.key_b, sa.ng AS n_grams_a, sb.ng AS n_grams_b,
              |       cm.n_common,
              |       ROUND(CAST(cm.n_common AS DOUBLE)
              |         / CAST(sa.ng + sb.ng - cm.n_common AS DOUBLE), 6) AS jaccard,
              |       ROUND(CAST(COALESCE(ag.na, 0) AS DOUBLE) / 16, 6) AS est_jaccard
              |FROM cm
              |JOIN sz sa ON sa.source = cm.key_a
              |JOIN sz sb ON sb.source = cm.key_b
              |LEFT JOIN ag ON ag.key_a = cm.key_a AND ag.key_b = cm.key_b
              |ORDER BY cm.key_a, cm.key_b""".stripMargin)),

    // data-constrained epoch planning: a 7000-token budget at the
    // mixture target with at most 2 epochs per source — capped
    // sources freeze, the rest water-fill at target proportions
    // (closed-form fixed point, no iteration)
    Q("sample_epoch_plan",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val d = s.table("documents")
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        graft.ops.Sampling.epochPlan(d, "source", "n_tokens", MixTarget,
            budgetTokens = 7000L, maxEpochs = 2.0)
          .orderBy(col("source"))
      },
      Some(s"""WITH d AS (SELECT source,
              |  CAST(len($oracleToks) AS BIGINT) AS n_tokens FROM documents),
              |a AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_avail,
              |        $mixShareSql AS target_share
              |      FROM d GROUP BY source),
              |tk AS (SELECT * FROM (VALUES $mixValuesSql) t(source, target_share)),
              |act AS (SELECT tk.source,
              |          COALESCE(a.n_tokens_avail, 0) AS n_tokens_avail,
              |          tk.target_share,
              |          CAST(COALESCE(a.n_tokens_avail, 0) AS DOUBLE) * 2.0 AS cap_tokens,
              |          CAST(COALESCE(a.n_tokens_avail, 0) AS DOUBLE) * 2.0 / tk.target_share AS r
              |        FROM tk LEFT JOIN a ON tk.source = a.source),
              |lam AS (SELECT source, r,
              |          SUM(cap_tokens) OVER w AS cum_cap,
              |          SUM(target_share) OVER w AS cum_share,
              |          LEAD(r) OVER (ORDER BY r, source) AS next_r
              |        FROM act
              |        WINDOW w AS (ORDER BY r, source
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              |l2 AS (SELECT r, next_r,
              |         CASE WHEN cum_share < 1.0 - 1e-12
              |              THEN (7000.0 - cum_cap) / (1.0 - cum_share) END AS lam_i
              |       FROM lam),
              |ls AS (SELECT MIN(CASE WHEN lam_i IS NOT NULL AND r <= lam_i
              |                        AND (next_r IS NULL OR lam_i <= next_r)
              |                   THEN lam_i END) AS lam_star,
              |              MIN(r) AS min_r FROM l2),
              |lf AS (SELECT CASE WHEN 7000.0 <= min_r THEN 7000.0
              |                   ELSE lam_star END AS lam_star FROM ls)
              |SELECT act.source, act.n_tokens_avail, act.target_share,
              |       ROUND(act.cap_tokens, 3) AS cap_tokens,
              |       ROUND(LEAST(act.cap_tokens,
              |         COALESCE(act.target_share * lf.lam_star, act.cap_tokens)), 3) AS n_tokens_take,
              |       ROUND(CASE WHEN act.n_tokens_avail > 0
              |            THEN LEAST(act.cap_tokens,
              |                   COALESCE(act.target_share * lf.lam_star, act.cap_tokens))
              |                 / CAST(act.n_tokens_avail AS DOUBLE)
              |            ELSE 0.0 END, 6) AS epochs,
              |       (lf.lam_star IS NULL
              |         OR act.target_share * lf.lam_star >= act.cap_tokens) AS capped
              |FROM act CROSS JOIN lf
              |UNION ALL
              |SELECT source, n_tokens_avail, 0.0 AS target_share,
              |       ROUND(CAST(n_tokens_avail AS DOUBLE) * 2.0, 3) AS cap_tokens,
              |       0.0 AS n_tokens_take, 0.0 AS epochs, FALSE AS capped
              |FROM a WHERE target_share <= 0
              |ORDER BY source""".stripMargin)),

    // exact per-key token-count quantiles WITHOUT a global sort: the
    // corpus compacts to (key, value, count), the quantile is a
    // running-count scan of that table (quantile_disc semantics)
    Q("quality_quantile_report",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val d = s.table("documents")
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        graft.ops.Quantiles.quantileByKey(d, "source", "n_tokens",
            Seq(0.1, 0.5, 0.9))
          .groupBy(col("source"))
          .agg(max(when(col("q") === 0.1, col("quantile"))).as("q10"),
            max(when(col("q") === 0.5, col("quantile"))).as("q50"),
            max(when(col("q") === 0.9, col("quantile"))).as("q90"),
            max(col("n")).as("n_docs"))
          .orderBy(col("source"))
      },
      Some(s"""WITH d AS (SELECT source,
              |  CAST(len($oracleToks) AS BIGINT) AS n_tokens FROM documents)
              |SELECT source,
              |  quantile_disc(n_tokens, 0.1) AS q10,
              |  quantile_disc(n_tokens, 0.5) AS q50,
              |  quantile_disc(n_tokens, 0.9) AS q90,
              |  COUNT(*) AS n_docs
              |FROM d GROUP BY source ORDER BY source""".stripMargin)),

    // the apply half: per-key quantile threshold as a broadcast join —
    // CCNet-style "keep at or below the slice's 0.9 length quantile"
    Q("quality_quantile_filter",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val d = s.table("documents")
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
          .select(col("doc_id"), col("source"), col("n_tokens"))
        graft.ops.Quantiles.quantileFilter(d, "source", "n_tokens",
            q = 0.9, keepBelow = true)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, source,
              |  CAST(len($oracleToks) AS BIGINT) AS n_tokens FROM documents),
              |t AS (SELECT source, quantile_disc(n_tokens, 0.9) AS thr
              |      FROM d GROUP BY source)
              |SELECT d.doc_id, d.source, d.n_tokens
              |FROM d JOIN t USING (source)
              |WHERE d.n_tokens <= t.thr
              |ORDER BY d.doc_id""".stripMargin)),

    // contamination matrix: which benchmark slice leaked into which
    // corpus source (src0's lang values act as the benchmark suite)
    Q("report_contamination_matrix",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        val bench = docs.where(col("source") === "src0")
        val corpus = docs.where(col("source") =!= "src0")
        graft.ops.Decontaminate.reportBySlice(corpus, bench,
            "doc_id", "source", "lang", "text", n = 3, minHits = 2)
          .orderBy(col("source"), col("lang_bench"))
      },
      Some(s"""WITH t AS (SELECT doc_id, source, $oracleToks AS toks
              |           FROM documents WHERE source <> 'src0'),
              |bt AS (SELECT lang, $oracleToks AS toks
              |       FROM documents WHERE source = 'src0'),
              |bg AS (SELECT DISTINCT lang AS bk, unnest($oracleShingles) AS gram FROM bt),
              |dg AS (SELECT doc_id, source, unnest($oracleShingles) AS gram FROM t),
              |h AS (SELECT dg.source, dg.doc_id, bg.bk, COUNT(*) AS nh
              |      FROM dg JOIN bg ON dg.gram = bg.gram GROUP BY 1, 2, 3),
              |c AS (SELECT source, bk, COUNT(*) AS n_contaminated
              |      FROM h WHERE nh >= 2 GROUP BY 1, 2),
              |sl AS (SELECT source, COUNT(*) AS n_docs FROM t GROUP BY source),
              |k AS (SELECT DISTINCT lang AS bk FROM documents WHERE source = 'src0')
              |SELECT sl.source, k.bk AS lang_bench, sl.n_docs,
              |  COALESCE(c.n_contaminated, 0) AS n_contaminated,
              |  ROUND(CAST(COALESCE(c.n_contaminated, 0) AS DOUBLE) / sl.n_docs, 6)
              |    AS contamination_rate
              |FROM sl CROSS JOIN k
              |LEFT JOIN c ON c.source = sl.source AND c.bk = k.bk
              |ORDER BY sl.source, lang_bench""".stripMargin)),

    // near-dup companion: cluster-size histogram of the MinHash-LSH
    // duplicate graph's connected components (singletons included)
    Q("report_neardup_profile",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Dedup.nearDupProfile(s.table("documents"), "doc_id", "text",
            k = 16, bands = 4, n = 3, threshold = 0.25)
          .orderBy(col("cluster_size"))
      },
      Some(s"""WITH RECURSIVE $minhashOracleCtes,
              |prs AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.25),
              |eg AS (SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b, id_a FROM prs),
              |walk(node, lbl) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT e.b, w.lbl FROM walk w JOIN eg e ON e.a = w.node),
              |comp AS (SELECT node, MIN(lbl) AS cid FROM walk GROUP BY node),
              |cs AS (SELECT cid, COUNT(*) AS cluster_size FROM comp GROUP BY cid)
              |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
              |  COUNT(*) AS n_clusters,
              |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
              |  CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_excess_docs
              |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin)),

    // distribution-shift screen: unigram KL(source || corpus) in nats
    Q("report_source_divergence",
      (s, dir) => {
        Tables.registerAll(s, dir)
        TextAnalysis.divergenceReport(s.table("documents"), "source", "text")
          .orderBy(col("source"))
      },
      Some(s"""WITH d AS (SELECT source, unnest($oracleToks) AS t FROM documents),
              |kt AS (SELECT source, t, COUNT(*) AS c FROM d GROUP BY 1, 2),
              |ktot AS (SELECT source, SUM(c) AS nk, COUNT(*) AS vocab_size
              |         FROM kt GROUP BY source),
              |tt AS (SELECT t, SUM(c) AS ct FROM kt GROUP BY t),
              |nn AS (SELECT SUM(ct) AS n FROM tt),
              |con AS (SELECT kt.source,
              |  CAST(ROUND((CAST(kt.c AS DOUBLE) / ktot.nk) *
              |    (ln(CAST(kt.c AS DOUBLE)) - ln(CAST(ktot.nk AS DOUBLE))
              |     - ln(CAST(tt.ct AS DOUBLE)) + ln(CAST(nn.n AS DOUBLE))), 12)
              |    AS DECIMAL(38,15)) AS klc
              |  FROM kt JOIN tt USING (t) JOIN ktot USING (source) CROSS JOIN nn)
              |SELECT con.source,
              |  CAST(MAX(ktot.nk) AS BIGINT) AS n_tokens,
              |  CAST(MAX(ktot.vocab_size) AS BIGINT) AS vocab_size,
              |  ROUND(CAST(SUM(con.klc) AS DOUBLE), 6) AS kl_nats
              |FROM con JOIN ktot USING (source)
              |GROUP BY con.source ORDER BY con.source""".stripMargin)),

    // duplication profile: exact-dup cluster-size histogram — the
    // "is a dedup stage worth scheduling" summary
    Q("report_duplication_profile",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Dedup.duplicationProfile(s.table("documents"), "text")
          .orderBy(col("cluster_size"))
      },
      Some("""WITH g AS (SELECT md5(text) AS d, COUNT(*) AS cluster_size
             |           FROM documents GROUP BY 1)
             |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
             |  COUNT(*) AS n_clusters,
             |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
             |  CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_excess_docs
             |FROM g GROUP BY cluster_size ORDER BY cluster_size""".stripMargin)),

    // embedding-space decontamination: nearest-benchmark cosine per
    // corpus vector (bench = vec_id < 10, plan-literal argmax — the
    // paraphrase leakage the n-gram test misses)
    Q("decontaminate_semantic",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val emb = s.table("embeddings")
        graft.ops.Decontaminate.semanticOverlap(
            emb.where(col("vec_id") >= 10), emb.where(col("vec_id") < 10),
            "vec_id", "embedding", threshold = 0.3)
          .selectExpr("vec_id", "bench_id", "ROUND(bench_cosine, 6) AS bench_cosine",
            "contaminated")
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH b AS (SELECT vec_id AS bid, embedding AS bv FROM embeddings WHERE vec_id < 10),
              |c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 10),
              |sc AS (SELECT c.vec_id, b.bid, ${oracleCosine("c.cv", "b.bv")} AS cos
              |       FROM c CROSS JOIN b),
              |r AS (SELECT vec_id, bid, cos,
              |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, bid DESC) AS rn
              |      FROM sc)
              |SELECT vec_id, bid AS bench_id, ROUND(cos, 6) AS bench_cosine,
              |       cos >= 0.3 AS contaminated
              |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // hard-negative mining: per query, top-k most-similar vectors
    // with a DIFFERENT label (contrastive-training negatives)
    Q("mine_hard_negatives",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val emb = s.table("embeddings")
        graft.ops.Similarity.hardNegativesTopK(emb, emb.where(col("vec_id") < 5),
            "vec_id", "embedding", "label", k = 10)
          .selectExpr("query_id", "rank", "nn_id", "ROUND(cosine, 6) AS cosine",
            "CAST(nn_label AS BIGINT) AS nn_label")
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, label AS ql, embedding AS qv
              |           FROM embeddings WHERE vec_id < 5),
              |c AS (SELECT vec_id AS nn_id, label AS nl, embedding AS cv FROM embeddings),
              |scored AS (
              |  SELECT query_id, nn_id, nl, ${oracleCosine("qv", "cv")} AS cos
              |  FROM q CROSS JOIN c
              |  WHERE nn_id != query_id AND nl IS DISTINCT FROM ql),
              |ranked AS (
              |  SELECT query_id, nn_id, nl, cos,
              |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
              |  FROM scored)
              |SELECT query_id, rank, nn_id, ROUND(cos, 6) AS cosine,
              |       CAST(nl AS BIGINT) AS nn_label
              |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // k-NN label purity per label over a bounded probe set — the
    // embedding-space label-noise screen
    Q("report_knn_purity",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val emb = s.table("embeddings")
        graft.ops.Similarity.knnLabelPurity(emb, emb.where(col("vec_id") < 50),
            "vec_id", "embedding", "label", k = 10)
          .selectExpr("CAST(label AS BIGINT) AS label", "n_probes", "n_pairs",
            "n_same", "purity")
          .orderBy(col("label"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, label AS ql, embedding AS qv
              |           FROM embeddings WHERE vec_id < 50),
              |c AS (SELECT vec_id AS nn_id, label AS nl, embedding AS cv FROM embeddings),
              |scored AS (
              |  SELECT query_id, ql, nn_id, nl, ${oracleCosine("qv", "cv")} AS cos
              |  FROM q CROSS JOIN c WHERE nn_id != query_id),
              |ranked AS (
              |  SELECT query_id, ql, nl,
              |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rnk
              |  FROM scored)
              |SELECT CAST(ql AS BIGINT) AS label,
              |       COUNT(DISTINCT query_id) AS n_probes,
              |       COUNT(*) AS n_pairs,
              |       CAST(SUM(CASE WHEN nl IS NOT DISTINCT FROM ql THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
              |       ROUND(CAST(SUM(CASE WHEN nl IS NOT DISTINCT FROM ql THEN 1 ELSE 0 END) AS DOUBLE)
              |             / COUNT(*), 6) AS purity
              |FROM ranked WHERE rnk <= 10
              |GROUP BY ql ORDER BY label""".stripMargin)),

    // cluster-balanced diversity sampling: nearest-centroid
    // assignment (trained IVF codebook) + deterministic per-cluster
    // cap — dense embedding regions can't dominate the sample
    Q("sample_cluster_balanced",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val emb = s.table("embeddings")
        val cents = graft.ops.Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
          k = 4, iters = 2)
        graft.ops.Sampling.clusterBalancedSample(emb, "vec_id", "embedding",
            cents, maxPerCluster = 30)
          .selectExpr("vec_id", "CAST(cent_id AS BIGINT) AS cent_id")
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH ${trainCtes(4, 2, 64)},
              |asg AS (
              |  SELECT vec_id, ci FROM (
              |    SELECT e.vec_id, c.ci,
              |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
              |             ORDER BY ${oracleCosine("e.embedding", "c.cv")} DESC, c.ci DESC) AS rn
              |    FROM embeddings e CROSS JOIN cent2 c)
              |  WHERE rn = 1)
              |SELECT vec_id, CAST(ci AS BIGINT) AS cent_id FROM asg
              |QUALIFY ROW_NUMBER() OVER (PARTITION BY ci
              |  ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 15), vec_id) <= 30
              |ORDER BY vec_id""".stripMargin)),

    // CCNet-style per-language perplexity bucketing: quartile split
    // of avg_nll within each language (0 = head, 1 = middle, 2 = tail)
    Q("sample_perplexity_buckets",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        val ppl = TextAnalysis.lmPerplexity(docs, "doc_id", "text")
          .select(col("doc_id"), col("avg_nll"))
        // pin the scored (id, key, score) table once: bucketByKey
        // consumes it twice (threshold derivation + final join), and
        // re-running the whole LM chain per branch doubles the query
        val d = docs.select(col("doc_id"), col("lang")).join(ppl, "doc_id")
          .localCheckpoint(true)
        graft.ops.Quantiles.bucketByKey(d, "lang", "avg_nll", Seq(0.25, 0.75))
          .select(col("doc_id"), col("lang"), col("avg_nll"), col("bucket"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, $oracleToks AS toks FROM documents),
              |tfc AS (
              |  SELECT doc_id, term, COUNT(*) AS tf
              |  FROM (SELECT doc_id, unnest(toks) AS term FROM d)
              |  GROUP BY doc_id, term),
              |vocab AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tfc GROUP BY term),
              |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t_total, COUNT(*) AS v_size FROM vocab),
              |contrib AS (
              |  SELECT t.doc_id, t.tf,
              |         CAST(ROUND(t.tf * ln((v.cnt + 1.0) / (tot.t_total + tot.v_size)), 12) AS DECIMAL(38,15)) AS lp
              |  FROM tfc t JOIN vocab v USING (term) CROSS JOIN tot),
              |agg AS (
              |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens, CAST(SUM(lp) AS DOUBLE) AS slp
              |  FROM contrib GROUP BY doc_id),
              |nll AS (
              |  SELECT dd.doc_id, dd.lang, ROUND(-a.slp / a.n_tokens, 6) AS avg_nll
              |  FROM documents dd JOIN agg a USING (doc_id)),
              |thr AS (
              |  SELECT lang, quantile_disc(avg_nll, 0.25) AS t0,
              |         quantile_disc(avg_nll, 0.75) AS t1
              |  FROM nll GROUP BY lang)
              |SELECT n.doc_id, n.lang, n.avg_nll,
              |       CAST(CASE WHEN n.avg_nll <= t.t0 THEN 0
              |                 WHEN n.avg_nll <= t.t1 THEN 1
              |                 ELSE 2 END AS BIGINT) AS bucket
              |FROM nll n JOIN thr t USING (lang)
              |ORDER BY n.doc_id""".stripMargin)),

    // the apply half of epoch planning: materialize per-key repeat
    // factors as deterministic training copies (floor(epochs) full
    // copies + an id-hash fraction getting one extra)
    Q("sample_epoch_apply",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val docs = s.table("documents")
        val d = docs.withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        val plan = graft.ops.Sampling.epochPlan(d, "source", "n_tokens", MixTarget,
          budgetTokens = 7000L, maxEpochs = 2.0)
        graft.ops.Sampling.epochApply(docs.select(col("doc_id"), col("source")),
            plan, "doc_id", "source")
          .orderBy(col("doc_id"), col("copy"))
      },
      Some(s"""WITH d AS (SELECT source,
              |  CAST(len($oracleToks) AS BIGINT) AS n_tokens FROM documents),
              |a AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_avail,
              |        $mixShareSql AS target_share
              |      FROM d GROUP BY source),
              |tk AS (SELECT * FROM (VALUES $mixValuesSql) t(source, target_share)),
              |act AS (SELECT tk.source,
              |          COALESCE(a.n_tokens_avail, 0) AS n_tokens_avail,
              |          tk.target_share,
              |          CAST(COALESCE(a.n_tokens_avail, 0) AS DOUBLE) * 2.0 AS cap_tokens,
              |          CAST(COALESCE(a.n_tokens_avail, 0) AS DOUBLE) * 2.0 / tk.target_share AS r
              |        FROM tk LEFT JOIN a ON tk.source = a.source),
              |lam AS (SELECT source, r,
              |          SUM(cap_tokens) OVER w AS cum_cap,
              |          SUM(target_share) OVER w AS cum_share,
              |          LEAD(r) OVER (ORDER BY r, source) AS next_r
              |        FROM act
              |        WINDOW w AS (ORDER BY r, source
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              |l2 AS (SELECT r, next_r,
              |         CASE WHEN cum_share < 1.0 - 1e-12
              |              THEN (7000.0 - cum_cap) / (1.0 - cum_share) END AS lam_i
              |       FROM lam),
              |ls AS (SELECT MIN(CASE WHEN lam_i IS NOT NULL AND r <= lam_i
              |                        AND (next_r IS NULL OR lam_i <= next_r)
              |                   THEN lam_i END) AS lam_star,
              |              MIN(r) AS min_r FROM l2),
              |lf AS (SELECT CASE WHEN 7000.0 <= min_r THEN 7000.0
              |                   ELSE lam_star END AS lam_star FROM ls),
              |pl AS (SELECT act.source,
              |         ROUND(CASE WHEN act.n_tokens_avail > 0
              |              THEN LEAST(act.cap_tokens,
              |                     COALESCE(act.target_share * lf.lam_star, act.cap_tokens))
              |                   / CAST(act.n_tokens_avail AS DOUBLE)
              |              ELSE 0.0 END, 6) AS epochs
              |       FROM act CROSS JOIN lf),
              |ap AS (SELECT dd.doc_id, dd.source,
              |         CAST(FLOOR(pl.epochs) AS BIGINT)
              |         + CASE WHEN substr(md5(CAST(dd.doc_id AS VARCHAR) || '#epoch'), 1, 15)
              |                     < lower(lpad(to_hex(CAST(FLOOR(
              |                         (pl.epochs - FLOOR(pl.epochs)) * 1152921504606846976.0)
              |                       AS BIGINT)), 15, '0'))
              |                THEN 1 ELSE 0 END AS ncop
              |       FROM documents dd JOIN pl USING (source))
              |SELECT doc_id, source, unnest(generate_series(1, ncop)) AS copy
              |FROM ap WHERE ncop > 0
              |ORDER BY doc_id, copy""".stripMargin)),

    // per-language z-score ensemble of three integer quality signals
    // (token count, distinct-token count, char length)
    Q("quality_score_blend",
      (s, dir) => {
        Tables.registerAll(s, dir)
        // pin the derived signal table once — zscoreBlend consumes it
        // twice (stats + join) and the tokenize would re-run per branch
        val d = s.table("documents").select(col("doc_id"), col("lang"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          size(array_distinct(TextAnalysis.tokens(col("text")))).cast("long").as("n_types"))
          .localCheckpoint(true)
        graft.ops.Classifier.zscoreBlend(d, "lang", Seq("n_tokens", "n_types", "n_chars"))
          .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_types"),
            col("n_chars"), col("quality_blend"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, lang, n_chars,
              |  CAST(len($oracleToks) AS BIGINT) AS n_tokens,
              |  CAST(len(list_distinct($oracleToks)) AS BIGINT) AS n_types
              |  FROM documents),
              |st AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n,
              |         SUM(n_tokens) AS s1, SUM(n_tokens * n_tokens) AS ss1,
              |         SUM(n_types) AS s2, SUM(n_types * n_types) AS ss2,
              |         SUM(n_chars) AS s3, SUM(n_chars * n_chars) AS ss3
              |       FROM d GROUP BY lang)
              |SELECT d.doc_id, d.lang, d.n_tokens, d.n_types, d.n_chars,
              |  ROUND((
              |    (CASE WHEN sqrt(CAST(ss1 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)) > 0
              |          THEN (CAST(d.n_tokens AS DOUBLE) - CAST(s1 AS DOUBLE)/n)
              |               / sqrt(CAST(ss1 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
              |          ELSE 0.0 END)
              |    + (CASE WHEN sqrt(CAST(ss2 AS DOUBLE)/n - (CAST(s2 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n)) > 0
              |            THEN (CAST(d.n_types AS DOUBLE) - CAST(s2 AS DOUBLE)/n)
              |                 / sqrt(CAST(ss2 AS DOUBLE)/n - (CAST(s2 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n))
              |            ELSE 0.0 END)
              |    + (CASE WHEN sqrt(CAST(ss3 AS DOUBLE)/n - (CAST(s3 AS DOUBLE)/n)*(CAST(s3 AS DOUBLE)/n)) > 0
              |            THEN (CAST(d.n_chars AS DOUBLE) - CAST(s3 AS DOUBLE)/n)
              |                 / sqrt(CAST(ss3 AS DOUBLE)/n - (CAST(s3 AS DOUBLE)/n)*(CAST(s3 AS DOUBLE)/n))
              |            ELSE 0.0 END)
              |  ) / 3.0, 6) AS quality_blend
              |FROM d JOIN st USING (lang)
              |ORDER BY d.doc_id""".stripMargin)),

    // embedding-space distribution shift: per-label centroid vs the
    // global corpus centroid, as a cosine
    Q("report_embedding_drift",
      (s, dir) => {
        Tables.registerAll(s, dir)
        graft.ops.Similarity.embeddingDriftReport(s.table("embeddings"),
            "label", "embedding")
          .selectExpr("CAST(label AS BIGINT) AS label", "n_vecs", "drift_cosine")
          .orderBy(col("label"))
      },
      Some("""WITH pe AS (
             |  SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
             |         CAST(unnest(embedding) AS DOUBLE) AS v
             |  FROM embeddings),
             |per AS (SELECT label, pos, SUM(CAST(v AS DECIMAL(38,15))) AS sl,
             |          COUNT(*) AS nl
             |        FROM pe GROUP BY label, pos),
             |gl AS (SELECT pos, SUM(sl) AS sg, SUM(nl) AS ng FROM per GROUP BY pos),
             |j AS (SELECT label, per.pos, nl,
             |        CAST(sl AS DOUBLE) / nl AS ml,
             |        CAST(sg AS DOUBLE) / ng AS mg
             |      FROM per JOIN gl USING (pos)),
             |a AS (SELECT label, MAX(nl) AS n_vecs,
             |        CAST(SUM(CAST(ROUND(ml * mg, 12) AS DECIMAL(38,15))) AS DOUBLE) AS dt,
             |        CAST(SUM(CAST(ROUND(ml * ml, 12) AS DECIMAL(38,15))) AS DOUBLE) AS l2,
             |        CAST(SUM(CAST(ROUND(mg * mg, 12) AS DECIMAL(38,15))) AS DOUBLE) AS g2
             |      FROM j GROUP BY label)
             |SELECT CAST(label AS BIGINT) AS label, CAST(n_vecs AS BIGINT) AS n_vecs,
             |  ROUND(dt / (sqrt(l2) * sqrt(g2)), 6) AS drift_cosine
             |FROM a ORDER BY label""".stripMargin)),

    // ANN index evaluation: IVF recall@k against the exact
    // brute-force ground truth on the same query set
    Q("report_ann_recall",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val emb = s.table("embeddings")
        graft.ops.Similarity.annRecallReport(
          emb,
          emb.where(col("vec_id") >= 3 && col("vec_id") < 8),
          emb.where(col("vec_id") < 3),
          "vec_id", "embedding", k = 10, nprobe = 2)
      },
      Some(s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 3),
              |corpus AS (SELECT vec_id AS nn_id, embedding AS nv FROM embeddings),
              |cassign AS (
              |  SELECT nn_id, cent_id FROM (
              |    SELECT nn_id, cent_id,
              |           ROW_NUMBER() OVER (PARTITION BY nn_id ORDER BY cc DESC, cent_id DESC) AS rn
              |    FROM (SELECT nn_id, cent_id, ${oracleCosine("nv", "cv")} AS cc
              |          FROM corpus CROSS JOIN cent))
              |  WHERE rn = 1),
              |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
              |      WHERE vec_id >= 3 AND vec_id < 8),
              |qassign AS (
              |  SELECT query_id, cent_id FROM (
              |    SELECT query_id, cent_id,
              |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cc DESC, cent_id DESC) AS rn
              |    FROM (SELECT query_id, cent_id, ${oracleCosine("qv", "cv")} AS cc
              |          FROM q CROSS JOIN cent))
              |  WHERE rn <= 2),
              |ip AS (
              |  SELECT q.query_id, c.nn_id, ${oracleCosine("q.qv", "c.nv")} AS cos
              |  FROM corpus c JOIN cassign ca ON c.nn_id = ca.nn_id
              |  JOIN qassign qa ON ca.cent_id = qa.cent_id
              |  JOIN q ON q.query_id = qa.query_id
              |  WHERE c.nn_id != q.query_id),
              |ivfr AS (
              |  SELECT query_id, nn_id FROM (
              |    SELECT query_id, nn_id,
              |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
              |    FROM ip)
              |  WHERE rank <= 10),
              |bp AS (
              |  SELECT query_id, nn_id, ${oracleCosine("qv", "nv")} AS cos
              |  FROM q CROSS JOIN corpus WHERE nn_id != query_id),
              |bfr AS (
              |  SELECT query_id, nn_id FROM (
              |    SELECT query_id, nn_id,
              |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
              |    FROM bp)
              |  WHERE rank <= 10),
              |h AS (SELECT b.query_id, COUNT(*) AS hit
              |      FROM bfr b JOIN ivfr i ON b.query_id = i.query_id AND b.nn_id = i.nn_id
              |      GROUP BY b.query_id),
              |t AS (SELECT query_id, COUNT(*) AS tru FROM bfr GROUP BY query_id)
              |SELECT COUNT(*) AS n_queries, CAST(10 AS BIGINT) AS k,
              |  ROUND(CAST(SUM(COALESCE(h.hit, 0)) AS DOUBLE) / SUM(t.tru), 6) AS avg_recall,
              |  ROUND(MIN(CAST(COALESCE(h.hit, 0) AS DOUBLE) / t.tru), 6) AS min_recall
              |FROM t LEFT JOIN h USING (query_id)""".stripMargin)),

    // recall@k of EVERY serving arm (ivf / lsh multi-probe / pq ADC)
    // against one shared exact ground truth — the report that picks
    // an index family before a production run trusts it
    Q("report_ann_recall_arms",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val emb = s.table("embeddings")
        // NOTE (r15): spreading the corpus side was built and measured
        // — REGRESSION (1.67 → 3.17 drift-normalized): the arms'
        // joins are broadcast-driven and the spread exchange plus
        // 32-task floors on a 2,000-row fixture cost more than the
        // one 702 ms single-task stage it parallelized. Reverted;
        // stage-count floor adjudication (r11) stands.
        graft.ops.Similarity.annRecallArms(
            emb,
            emb.where(col("vec_id") >= 3 && col("vec_id") < 8),
            emb.where(col("vec_id") < 3),
            graft.ops.PqFixture.codebooks(s),
            "vec_id", "embedding", k = 10, nprobe = 2, planes = 8)
          .orderBy(col("arm"))
      },
      Some(s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 3),
              |corpus AS (SELECT vec_id AS nn_id, embedding AS nv FROM embeddings),
              |cassign AS (
              |  SELECT nn_id, cent_id FROM (
              |    SELECT nn_id, cent_id,
              |           ROW_NUMBER() OVER (PARTITION BY nn_id ORDER BY cc DESC, cent_id DESC) AS rn
              |    FROM (SELECT nn_id, cent_id, ${oracleCosine("nv", "cv")} AS cc
              |          FROM corpus CROSS JOIN cent))
              |  WHERE rn = 1),
              |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
              |      WHERE vec_id >= 3 AND vec_id < 8),
              |qassign AS (
              |  SELECT query_id, cent_id FROM (
              |    SELECT query_id, cent_id,
              |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cc DESC, cent_id DESC) AS rn
              |    FROM (SELECT query_id, cent_id, ${oracleCosine("qv", "cv")} AS cc
              |          FROM q CROSS JOIN cent))
              |  WHERE rn <= 2),
              |ip AS (
              |  SELECT q.query_id, c.nn_id, ${oracleCosine("q.qv", "c.nv")} AS cos
              |  FROM corpus c JOIN cassign ca ON c.nn_id = ca.nn_id
              |  JOIN qassign qa ON ca.cent_id = qa.cent_id
              |  JOIN q ON q.query_id = qa.query_id
              |  WHERE c.nn_id != q.query_id),
              |ivfr AS (
              |  SELECT query_id, nn_id FROM (
              |    SELECT query_id, nn_id,
              |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
              |    FROM ip)
              |  WHERE rank <= 10),
              |bp AS (
              |  SELECT query_id, nn_id, ${oracleCosine("qv", "nv")} AS cos
              |  FROM q CROSS JOIN corpus WHERE nn_id != query_id),
              |bfr AS (
              |  SELECT query_id, nn_id FROM (
              |    SELECT query_id, nn_id,
              |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
              |    FROM bp)
              |  WHERE rank <= 10),
              |$lshBucketCtes,
              |qprobe AS (
              |  SELECT vec_id AS query_id,
              |         unnest(list_prepend(bucket,
              |           [substr(bucket, 1, i - 1) ||
              |            CASE WHEN substr(bucket, i, 1) = '1' THEN '0' ELSE '1' END ||
              |            substr(bucket, i + 1, 8 - i)
              |            for i in generate_series(1, 8)])) AS bucket
              |  FROM b WHERE vec_id >= 3 AND vec_id < 8),
              |lcand AS (
              |  SELECT qp.query_id, cb2.vec_id AS nn_id
              |  FROM qprobe qp JOIN b cb2 ON cb2.bucket = qp.bucket
              |  WHERE cb2.vec_id <> qp.query_id),
              |lscored AS (
              |  SELECT c.query_id, c.nn_id,
              |         ${oracleCosine("qe.embedding", "ne.embedding")} AS cos
              |  FROM lcand c
              |  JOIN embeddings qe ON qe.vec_id = c.query_id
              |  JOIN embeddings ne ON ne.vec_id = c.nn_id),
              |lshr AS (
              |  SELECT query_id, nn_id FROM (
              |    SELECT query_id, nn_id,
              |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
              |    FROM lscored)
              |  WHERE rank <= 10),
              |$pqFixtureCb,
              |${pqEncFixture()},
              |${pqAdcChain(queryPred = "q.vec_id >= 3 AND q.vec_id < 8")},
              |pqr AS (SELECT query_id, nn_id FROM adcranked WHERE rank <= 10),
              |tq AS (SELECT query_id, COUNT(*) AS tru FROM bfr GROUP BY query_id),
              |h_ivf AS (SELECT b.query_id, COUNT(*) AS hit
              |  FROM bfr b JOIN ivfr a ON b.query_id = a.query_id AND b.nn_id = a.nn_id
              |  GROUP BY b.query_id),
              |h_lsh AS (SELECT b.query_id, COUNT(*) AS hit
              |  FROM bfr b JOIN lshr a ON b.query_id = a.query_id AND b.nn_id = a.nn_id
              |  GROUP BY b.query_id),
              |h_pq AS (SELECT b.query_id, COUNT(*) AS hit
              |  FROM bfr b JOIN pqr a ON b.query_id = a.query_id AND b.nn_id = a.nn_id
              |  GROUP BY b.query_id)
              |SELECT 'ivf' AS arm, COUNT(*) AS n_queries, CAST(10 AS BIGINT) AS k,
              |  ROUND(CAST(SUM(COALESCE(h.hit, 0)) AS DOUBLE) / SUM(tq.tru), 6) AS avg_recall,
              |  ROUND(MIN(CAST(COALESCE(h.hit, 0) AS DOUBLE) / tq.tru), 6) AS min_recall
              |FROM tq LEFT JOIN h_ivf h USING (query_id)
              |UNION ALL
              |SELECT 'lsh', COUNT(*), CAST(10 AS BIGINT),
              |  ROUND(CAST(SUM(COALESCE(h.hit, 0)) AS DOUBLE) / SUM(tq.tru), 6),
              |  ROUND(MIN(CAST(COALESCE(h.hit, 0) AS DOUBLE) / tq.tru), 6)
              |FROM tq LEFT JOIN h_lsh h USING (query_id)
              |UNION ALL
              |SELECT 'pq', COUNT(*), CAST(10 AS BIGINT),
              |  ROUND(CAST(SUM(COALESCE(h.hit, 0)) AS DOUBLE) / SUM(tq.tru), 6),
              |  ROUND(MIN(CAST(COALESCE(h.hit, 0) AS DOUBLE) / tq.tru), 6)
              |FROM tq LEFT JOIN h_pq h USING (query_id)
              |ORDER BY arm""".stripMargin)),

    // keep the n best rows per key by score (salted two-stage top-n)
    Q("sample_top_per_source",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val d = s.table("documents")
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
          .select(col("doc_id"), col("source"), col("n_tokens"))
        graft.ops.Sampling.topPerKey(d, "source", "doc_id", "n_tokens", n = 10)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, source,
              |  CAST(len($oracleToks) AS BIGINT) AS n_tokens FROM documents)
              |SELECT doc_id, source, n_tokens FROM d
              |QUALIFY ROW_NUMBER() OVER (PARTITION BY source
              |  ORDER BY n_tokens DESC, doc_id) <= 10
              |ORDER BY doc_id""".stripMargin)),

    // length-bucketed inference batching: similar lengths share a
    // batch (padding efficiency), exact within-bucket numbering from
    // the two-level prefix sum — never a per-bucket hot partition
    Q("sample_length_batches",
      (s, dir) => {
        Tables.registerAll(s, dir)
        // pin the narrow (id, length) projection once: lengthBatches
        // consumes it twice (offset counts + the rank join) and the
        // tokenize kernel would re-run per branch
        val d = s.table("documents")
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
          .select(col("doc_id"), col("n_tokens"))
          .localCheckpoint(true)
        graft.ops.Sampling.lengthBatches(d, "doc_id", "n_tokens",
            batchSize = 32, bucketWidth = 16)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id,
              |  CAST(len($oracleToks) AS BIGINT) AS n_tokens FROM documents)
              |SELECT doc_id, n_tokens, n_tokens // 16 AS len_bucket,
              |  CAST((ROW_NUMBER() OVER (PARTITION BY n_tokens // 16
              |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), doc_id) - 1) // 32
              |    AS BIGINT) AS batch_id
              |FROM d ORDER BY doc_id""".stripMargin)),

    // Zipf-law fit of the corpus unigram distribution (ln freq vs
    // ln rank least squares) — the corpus-health screen
    Q("report_zipf_fit",
      (s, dir) => {
        Tables.registerAll(s, dir)
        TextAnalysis.zipfFit(s.table("documents"), "text")
      },
      Some(s"""WITH v AS (
              |  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
              |  FROM (SELECT unnest($oracleToks) AS term FROM documents)
              |  GROUP BY term),
              |r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rnk FROM v),
              |c AS (SELECT cnt,
              |  CAST(ROUND(ln(CAST(rnk AS DOUBLE)), 12) AS DECIMAL(38,15)) AS x,
              |  CAST(ROUND(ln(CAST(cnt AS DOUBLE)), 12) AS DECIMAL(38,15)) AS y,
              |  CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * ln(CAST(cnt AS DOUBLE)), 12) AS DECIMAL(38,15)) AS xy,
              |  CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * ln(CAST(rnk AS DOUBLE)), 12) AS DECIMAL(38,15)) AS xx
              |  FROM r),
              |s AS (SELECT COUNT(*) AS vocab_size, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
              |        CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
              |        CAST(SUM(xy) AS DOUBLE) AS sxy, CAST(SUM(xx) AS DOUBLE) AS sxx
              |      FROM c)
              |SELECT vocab_size, n_tokens,
              |  ROUND((vocab_size * sxy - sx * sy) / (vocab_size * sxx - sx * sx), 6) AS zipf_slope,
              |  ROUND((sy - ((vocab_size * sxy - sx * sy) / (vocab_size * sxx - sx * sx)) * sx)
              |        / vocab_size, 6) AS zipf_intercept
              |FROM s""".stripMargin)),

    // balanced shard assignment: serpentine deal over the heaviest-
    // first rank (two-level prefix sum — never a global sort); the
    // write-side partitioner for near-equal-weight training shards
    Q("sample_shard_snake",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val d = s.table("documents").select(col("doc_id"), col("n_chars"))
        graft.ops.Sampling.snakeShards(d, "doc_id", "n_chars",
            nShards = 4, bandWidth = 16)
          .orderBy(col("doc_id"))
      },
      Some("""WITH r AS (SELECT doc_id, n_chars,
             |  ROW_NUMBER() OVER (ORDER BY n_chars // 16 DESC,
             |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), doc_id) AS rk
             |  FROM documents)
             |SELECT doc_id, n_chars,
             |  CAST(CASE WHEN ((rk - 1) // 4) % 2 = 0 THEN (rk - 1) % 4
             |       ELSE 3 - (rk - 1) % 4 END AS BIGINT) AS shard
             |FROM r ORDER BY doc_id""".stripMargin)),

    // the audit half: per-shard doc/weight totals and the balance
    // ratio (shard weight vs the perfectly-even share)
    Q("report_shard_balance",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val d = s.table("documents").select(col("doc_id"), col("n_chars"))
        // pin the 4-row grouped table: it feeds both the output rows
        // and the balance denominator, and unpinned each consumer
        // re-pays the whole snake rank (scan + windows + join)
        val g = graft.ops.Sampling.snakeShards(d, "doc_id", "n_chars",
            nShards = 4, bandWidth = 16)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("n_chars_total"))
          .localCheckpoint(true)
        g.crossJoin(broadcast(g.agg(sum(col("n_chars_total")).as("_t"))))
          .select(col("shard"), col("n_docs"), col("n_chars_total"),
            round(col("n_chars_total").cast("double") * lit(4.0)
              / col("_t").cast("double"), 6).as("balance"))
          .orderBy(col("shard"))
      },
      Some("""WITH r AS (SELECT doc_id, n_chars,
             |  ROW_NUMBER() OVER (ORDER BY n_chars // 16 DESC,
             |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), doc_id) AS rk
             |  FROM documents),
             |a AS (SELECT CASE WHEN ((rk - 1) // 4) % 2 = 0 THEN (rk - 1) % 4
             |        ELSE 3 - (rk - 1) % 4 END AS shard,
             |        COUNT(*) AS n_docs, SUM(n_chars) AS w
             |      FROM r GROUP BY 1),
             |t AS (SELECT CAST(SUM(w) AS DOUBLE) AS tot FROM a)
             |SELECT CAST(shard AS BIGINT) AS shard,
             |  CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(w AS BIGINT) AS n_chars_total,
             |  ROUND(CAST(w AS DOUBLE) * 4.0 / tot, 6) AS balance
             |FROM a, t ORDER BY shard""".stripMargin)),

    // PMI collocation mining (Church & Hanks 1990): top-k adjacent
    // word pairs by pointwise mutual information — the phrase miner
    // for tokenizer/vocabulary curation
    Q("text_pmi_collocations",
      (s, dir) => {
        Tables.registerAll(s, dir)
        TextAnalysis.pmiCollocations(s.table("documents"), "text",
          minCount = 5, k = 20)
      },
      Some(s"""WITH d AS (SELECT doc_id, $oracleToks AS toks FROM documents),
              |u AS (SELECT w, COUNT(*) AS cw
              |      FROM (SELECT unnest(toks) AS w FROM d) GROUP BY w),
              |b AS (SELECT toks[i] AS w1, toks[i + 1] AS w2, COUNT(*) AS c_ab
              |      FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
              |            FROM d WHERE len(toks) >= 2)
              |      GROUP BY 1, 2),
              |t AS (SELECT (SELECT SUM(cw) FROM u) AS n,
              |             (SELECT SUM(c_ab) FROM b) AS m)
              |SELECT b.w1, b.w2, CAST(b.c_ab AS BIGINT) AS c_ab,
              |  ROUND(ln(CAST(b.c_ab AS DOUBLE)) + 2.0 * ln(CAST(t.n AS DOUBLE))
              |    - ln(CAST(t.m AS DOUBLE)) - ln(CAST(u1.cw AS DOUBLE))
              |    - ln(CAST(u2.cw AS DOUBLE)), 6) AS pmi
              |FROM b
              |JOIN u u1 ON b.w1 = u1.w
              |JOIN u u2 ON b.w2 = u2.w
              |CROSS JOIN t
              |WHERE b.c_ab >= 5
              |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin)),

    // deterministic proportional interleaving (stride scheduling)
    // composed with the temperature mixture: the training-reader
    // order that realizes the mixture without random draws
    Q("sample_interleave_order",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val d = s.table("documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
        val w = graft.ops.Sampling.mixtureTemperature(d, "source", "n_chars",
            alpha = 0.5, totalTokens = 0L)
          .select(col("source"), col("q_temp"))
        graft.ops.Sampling.interleaveOrder(d, "doc_id", "source", w, "q_temp")
          .select(col("doc_id"), col("source"), col("src_rank"),
            col("interleave_key"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH avail AS (SELECT source,
             |    CAST(SUM(n_chars) AS BIGINT) AS n_tokens_avail
             |  FROM documents GROUP BY source),
             |tots AS (SELECT SUM(POW(CAST(n_tokens_avail AS DOUBLE), 0.5)) AS ta
             |  FROM avail),
             |w AS (SELECT source,
             |    ROUND(POW(CAST(n_tokens_avail AS DOUBLE), 0.5) / ta, 6) AS q_temp
             |  FROM avail, tots),
             |r AS (SELECT doc_id, source,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), doc_id) AS rk
             |  FROM documents)
             |SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS src_rank,
             |  ROUND((CAST(r.rk AS DOUBLE) - 0.5) / w.q_temp, 9) AS interleave_key
             |FROM r JOIN w USING (source) ORDER BY doc_id""".stripMargin)),

    // out-of-vocabulary rate per source against the corpus top-V
    // vocabulary — the fixed-tokenizer domain-coverage screen
    Q("report_oov_by_source",
      (s, dir) => {
        Tables.registerAll(s, dir)
        TextAnalysis.oovBySource(s.table("documents"), "source", "text",
            vocabSize = 10)
          .orderBy(col("source"))
      },
      Some(s"""WITH t AS (SELECT source, unnest($oracleToks) AS w FROM documents),
              |kw AS (SELECT source, w, COUNT(*) AS c FROM t GROUP BY source, w),
              |v AS (SELECT w FROM (SELECT w, SUM(c) AS cw FROM kw GROUP BY w
              |                     ORDER BY cw DESC, w LIMIT 10)),
              |j AS (SELECT kw.source, kw.c, v.w AS vw
              |      FROM kw LEFT JOIN v ON kw.w = v.w)
              |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
              |  CAST(SUM(CASE WHEN vw IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_oov,
              |  ROUND(CAST(SUM(CASE WHEN vw IS NULL THEN c ELSE 0 END) AS DOUBLE)
              |        / CAST(SUM(c) AS DOUBLE), 6) AS oov_rate
              |FROM j GROUP BY source ORDER BY source""".stripMargin)),

    // product quantization (Jégou et al. 2011): the TRAINER as its
    // own row — m fused per-subspace Lloyd problems advancing in one
    // assignment job + one bounded sums-collect per iteration;
    // codebooks train once per index build, serving rows below
    // consume the pre-trained fixture (the production split)
    Q("ann_pq_train",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Similarity.trainPqCodebooks(s.table("embeddings"), "vec_id", "embedding",
            dims = 64, m = 4, k = 4, iters = 2)
          .select(col("sub"), col("cent_id"),
            posexplode(col("centroid")).as(Seq("pos", "v")))
          .selectExpr("sub", "cent_id", "CAST(pos AS BIGINT) AS pos",
            "ROUND(v, 6) AS v")
          .orderBy(col("sub"), col("cent_id"), col("pos"))
      },
      Some(s"""WITH ${pqCtes(m = 4, k = 4, iters = 2, dims = 64)},
              |cbdump AS (
              |  SELECT 0 AS sub, ci, cv FROM s0_cent2
              |  UNION ALL SELECT 1, ci, cv FROM s1_cent2
              |  UNION ALL SELECT 2, ci, cv FROM s2_cent2
              |  UNION ALL SELECT 3, ci, cv FROM s3_cent2),
              |expanded AS (
              |  SELECT sub, ci, unnest(generate_series(1, 16)) AS pos, cv FROM cbdump)
              |SELECT CAST(sub AS BIGINT) AS sub, CAST(ci AS BIGINT) AS cent_id,
              |  CAST(pos - 1 AS BIGINT) AS pos, ROUND(cv[pos], 6) AS v
              |FROM expanded ORDER BY sub, cent_id, pos""".stripMargin)),

    // PQ encode as a SERVING op: each 64-float vector compresses to 4
    // small codes against the pre-trained codebook in one map-side
    // pass — no training inside the benched query
    Q("ann_pq_encode",
      (s, dir) => {
        Tables.registerAll(s, dir)
        Similarity.pqEncode(
            s.table("embeddings").select(col("vec_id"), col("embedding")),
            "vec_id", "embedding", graft.ops.PqFixture.codebooks(s))
          .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
          .selectExpr("vec_id", "CAST(sub AS BIGINT) AS sub", "code")
          .orderBy(col("vec_id"), col("sub"))
      },
      Some(s"""WITH $pqFixtureCb,
              |${pqEncFixture()}
              |SELECT vec_id, CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code
              |FROM pqenc ORDER BY vec_id, sub""".stripMargin)),

    // PQ asymmetric-distance top-k (ADC): full-precision queries
    // against the encoded corpus via a broadcast (query, sub, code)
    // lookup table — never touching the original corpus floats, and
    // never re-training the codebook it serves from
    Q("ann_pq_topk",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val emb = s.table("embeddings")
        Similarity.pqTopK(emb, emb.where(col("vec_id") < 5),
            "vec_id", "embedding", graft.ops.PqFixture.codebooks(s), k = 10)
          .selectExpr("query_id", "rank", "nn_id", "ROUND(cosine, 6) AS cosine")
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $pqFixtureCb,
              |${pqEncFixture()},
              |${pqAdcChain()}
              |SELECT query_id, rank, nn_id, ROUND(cos, 6) AS cosine
              |FROM adcranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // the standard two-stage PQ serving path: ADC ranks 3k coarse
    // candidates from codes alone, only those re-score exactly
    Q("ann_pq_refine_topk",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val emb = s.table("embeddings")
        Similarity.pqTopKRefined(emb, emb.where(col("vec_id") < 5),
            "vec_id", "embedding", graft.ops.PqFixture.codebooks(s),
            k = 10, refineFactor = 3)
          .selectExpr("query_id", "rank", "nn_id", "ROUND(cosine, 6) AS cosine")
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $pqFixtureCb,
              |${pqEncFixture()},
              |${pqAdcChain()},
              |coarse AS (
              |  SELECT query_id, nn_id FROM adcranked WHERE rank <= 30),
              |exact AS (
              |  SELECT c.query_id, c.nn_id,
              |         ${oracleCosine("qe.embedding", "ne.embedding")} AS cos
              |  FROM coarse c
              |  JOIN embeddings qe ON qe.vec_id = c.query_id
              |  JOIN embeddings ne ON ne.vec_id = c.nn_id),
              |rranked AS (
              |  SELECT query_id, nn_id, cos,
              |         ROW_NUMBER() OVER (PARTITION BY query_id
              |           ORDER BY cos DESC, nn_id) AS rank
              |  FROM exact)
              |SELECT query_id, rank, nn_id, ROUND(cos, 6) AS cosine
              |FROM rranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // index BUILD with the trainer in the loop — the once-per-index-
    // version cost: codebooks Lloyd-train on the first 60% of vectors
    // and that build corpus encodes + persists. Split from
    // ann_index_append (r13) so the append row prices pure
    // encode+append+serve and THIS row carries the trainer floor
    // (the sequential Lloyd iterations already adjudicated on the
    // ann_pq_train family).
    Q("ann_index_build",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val emb = s.table("embeddings")
        val maxId = emb.agg(max(col("vec_id"))).head().get(0)
        if (maxId == null) {
          emb.selectExpr("vec_id", "CAST(0 AS BIGINT) AS sub",
            "CAST(0 AS BIGINT) AS code").where(lit(false))
        } else {
          val bnd = maxId.asInstanceOf[Long] * 3 / 5
          val idxPath = graft.ops.TableWrite.scratchDir("graft_ann_bld")
          graft.ops.AnnIndex.build(emb.where(col("vec_id") <= bnd),
            "vec_id", "embedding", idxPath,
            dims = 64, ivfK = 4, pqM = 4, pqK = 4, planes = 8, iters = 2)
          graft.ops.AnnIndex.readPqCodes(s, idxPath)
            .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
            .selectExpr("vec_id", "CAST(sub AS BIGINT) AS sub", "code")
            .orderBy(col("vec_id"), col("sub"))
        }
      },
      Some(s"""WITH ${pqTrainOnCtes(m = 4, k = 4, iters = 2, dims = 64,
                trainPred = "vec_id <= (SELECT MAX(vec_id) * 3 // 5 FROM embeddings)")},
              |${pqEncFixture()}
              |SELECT vec_id, CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code
              |FROM pqenc
              |WHERE vec_id <= (SELECT MAX(vec_id) * 3 // 5 FROM embeddings)
              |ORDER BY vec_id, sub""".stripMargin)),

    // incremental index ingest with FROZEN codebooks — the production
    // index-maintenance shape, and (r13) ONLY that: the index version
    // is assembled from the pre-trained fixture codebooks with no
    // trainer in the row (AnnIndex.buildFromArtifacts — the shape a
    // fleet uses when codebooks train once on a sample), and the
    // whole corpus arrives as the shard encoded by AnnIndex.append in
    // one map-side pass. The dumped code table must equal encoding
    // the corpus against those codebooks directly — the per-row
    // argmax decomposes over shards, so an append loses nothing vs a
    // monolithic encode.
    Q("ann_index_append",
      (s, dir) => {
        Tables.registerAll(s, dir)
        val emb = s.table("embeddings")
        val idxPath = graft.ops.TableWrite.scratchDir("graft_ann_idx")
        val none = emb.where(lit(false))
        graft.ops.AnnIndex.buildFromArtifacts(none, "vec_id", "embedding",
          idxPath,
          centroids = none.select(col("vec_id").as("cent_id"),
            col("embedding").cast("array<double>").as("centroid")),
          cb = graft.ops.PqFixture.codebooks(s),
          dims = 64, ivfK = 4, pqM = 4, pqK = 4, planes = 8, iters = 2)
        graft.ops.AnnIndex.append(emb, "vec_id", "embedding", idxPath)
        graft.ops.AnnIndex.readPqCodes(s, idxPath)
          .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
          .selectExpr("vec_id", "CAST(sub AS BIGINT) AS sub", "code")
          .orderBy(col("vec_id"), col("sub"))
      },
      Some(s"""WITH $pqFixtureCb,
              |${pqEncFixture()}
              |SELECT vec_id, CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code
              |FROM pqenc ORDER BY vec_id, sub""".stripMargin)),
  )
}
