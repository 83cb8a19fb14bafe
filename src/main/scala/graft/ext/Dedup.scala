package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}

/** Deduplication operators for LLM-data pipelines (BASELINE.json north
  * star): exact (content-hash groupBy), exact n-gram Jaccard, MinHash+LSH
  * banding, and SimHash. All are pure DataFrame dataflows — shuffle keys
  * are content hashes / band keys, so they scale horizontally: no
  * all-pairs comparison ever materializes except within verified LSH
  * candidate buckets.
  */
object Dedup {

  /** Word tokens per document, deduplicated — the shingle base for
    * unigram-level dedup ops. NOT spread here: half its callers tokenize
    * a subsample (q31/q67's doc_id % 20) where an extra exchange costs
    * more than the single-split tokenization it parallelizes. */
  private def unigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(split(col("text"), " "))).as("w"))

  /** Hot-shingle guard: drop shingles whose document frequency exceeds
    * `maxDf` before any shingle self-join. An inverted-index join costs
    * Σ df(shingle)² — natural text is skewed by construction ("of the"
    * appears in every document), so without a cap the hottest posting
    * lists go quadratic at scale. Dropping ubiquitous shingles is the
    * standard fix (they carry no discriminative signal for near-dup
    * detection) and bounds every posting list at maxDf. The hot list
    * itself is tiny (≤ total_shingles/maxDf entries), so AQE plans the
    * anti-join as a broadcast. */
  def withoutHotShingles(toks: DataFrame, shingleCols: Seq[String],
      maxDf: Long): DataFrame = {
    val hot = toks.groupBy(shingleCols.map(col): _*)
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(shingleCols.map(col): _*)
    toks.join(hot, shingleCols, "left_anti")
  }

  /** Exact dedup via content fingerprint: one hash-groupBy, the canonical
    * row is the minimum id. At 100 TB this is the only exact-dedup shape
    * that works — the shuffle key is the 128-bit digest, never the text. */
  private val q30ExactDedup = QueryDef(
    (s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(min("doc_id").as("canonical_id"), count("*").as("n_copies"))
        .orderBy("canonical_id"),
    """SELECT md5(text) AS fp, min(doc_id) AS canonical_id,
      |       count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY canonical_id""")

  /** Scored same-language word-bigram Jaccard pairs over the doc_id
    * subsample (shared by q31 and q67): inverted-index self-join behind
    * the df ≤ 100 hot-shingle guard — bounded pair space, never a
    * cartesian product. */
  private def scoredPairs(s: SparkSession, dir: String): DataFrame = {
    val sub = Tables(s, dir, "documents")
      .filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
    val raw = sub.select(col("doc_id"), col("lang"),
      explode(array_distinct(
        zip_with(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (a, b) => concat(a, lit(" "), b)))).as("sh"))
    // hot-shingle guard: posting lists capped at df<=100 so the
    // self-join below is bounded by 100·|shingles| pairs, not Σdf²
    val toks = withoutHotShingles(raw, Seq("lang", "sh"), 100L)
    val cnt = toks.groupBy("doc_id").agg(count("*").as("n"))
    val a = toks.select(col("doc_id").as("doc_a"), col("lang"), col("sh"))
    val b = toks.select(col("doc_id").as("doc_b"),
      col("lang").as("lang_b"), col("sh").as("sh_b"))
    val common = a.join(b,
        col("sh") === col("sh_b") && col("lang") === col("lang_b") &&
          col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count("*").as("c"))
    common
      .join(cnt.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n", "na"), "doc_a")
      .join(cnt.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard",
        round(col("c") * lit(1.0) / (col("na") + col("nb") - col("c")), 6))
      .filter(col("jaccard") >= 0.04)
  }

  /** Exact word-bigram Jaccard over same-language candidate pairs (a
    * doc_id subsample keeps the oracle tractable; the dataflow itself is
    * the inverted-index pattern: explode shingles, self-join on shingle,
    * count — never a cartesian product). */
  private val q31NgramJaccard = QueryDef(
    (s, dir) =>
      scoredPairs(s, dir)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b"),
    """WITH sub AS (SELECT doc_id, lang, string_split(text, ' ') AS l
      |            FROM documents WHERE doc_id % 20 = 0),
      |raw AS (SELECT DISTINCT doc_id, lang, l[i] || ' ' || l[i+1] AS sh
      |        FROM sub, UNNEST(generate_series(1, len(l)-1)) AS t(i)),
      |hot AS (SELECT lang, sh FROM raw GROUP BY lang, sh
      |        HAVING count(*) > 100),
      |toks AS (SELECT r.* FROM raw r
      |         WHERE NOT EXISTS (SELECT 1 FROM hot h
      |                           WHERE h.lang = r.lang AND h.sh = r.sh)),
      |cnt AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
      |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      |           FROM toks a JOIN toks b
      |             ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |       round(c * 1.0 / (ca.n + cb.n - c), 6) AS jaccard
      |FROM common
      |JOIN cnt ca ON ca.doc_id = doc_a
      |JOIN cnt cb ON cb.doc_id = doc_b
      |WHERE round(c * 1.0 / (ca.n + cb.n - c), 6) >= 0.04
      |ORDER BY doc_a, doc_b""")

  /** MinHash + banded LSH near-dedup: 16 deterministic xxhash64 minhashes
    * per doc, 2 bands x 8 rows (selective banding — P[candidate] = J^8
    * per band, so low-similarity pairs rarely collide); docs sharing a
    * band key become candidate pairs, candidates are verified with exact
    * unigram Jaccard >= 0.9, and the output is the O(n) dedup verdict —
    * each doc's canonical id (smallest verified near-dup, else itself) —
    * NOT the pair list, which is inherently quadratic in duplicate
    * density. Only candidate pairs are ever compared; the all-pairs
    * O(n^2) never materializes, which is the whole point at 100 TB.
    *
    * Hash = the engine-portable md5-slice BIGINT (q88's discipline:
    * leading 60 bits of md5("i:word")), which DuckDB recomputes with a
    * 0x cast — so the ENTIRE pipeline (guard → signatures → banding →
    * candidate join → Jaccard verification → verdict) sits under the
    * hash-exact oracle gate; banding is replicated faithfully in the
    * oracle (HAVING count(*) = 8 per band) because with Jaccard
    * verification banding is result-RELEVANT: a true near-dup pair
    * missed by both bands must stay missed in both engines. */
  private val q32MinhashLsh = QueryDef(
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      // hot-shingle guard on the minhash vocabulary: ubiquitous unigrams
      // (stopwords) carry no near-dup signal and skew the verification
      // join's posting lists; df<=200 bounds them
      val toks = withoutHotShingles(unigrams(docs), Seq("w"), 200L)
      // 16 (hash-index, md5-slice) pairs per token; spread first — the
      // 16 md5s/token are the CPU-dense stage and the guarded token
      // table inherits the scan's single split. A single token is a
      // singleton token set, so the native minhash_sig expression
      // (MinHashSigSpec pins it bit-identical to the HOF md5-slice)
      // yields exactly the 16 per-index hash values, position = hash
      // index — replacing 16 interpreted lambda frames per token row
      // with one fused codegen loop
      val hashed = Tables.spread(s, toks).select(col("doc_id"),
        posexplode(graft.functions.MinHashSig.sig(col("w")))
          .as(Seq("h", "v")))
      val sig = hashed.groupBy("doc_id", "h").agg(min("v").as("mh"))
      val bands = sig
        .withColumn("band", (col("h") / 8).cast("int"))
        .groupBy("doc_id", "band")
        .agg(concat_ws(",",
          expr("transform(array_sort(collect_list(struct(h, mh))), x -> cast(x.mh AS string))"))
          .as("bk"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      // exact unigram-Jaccard verification, restricted to candidates
      val cnt = toks.groupBy("doc_id").agg(count("*").as("n"))
      val common = cand
        .join(toks.select(col("doc_id").as("doc_a"), col("w")), Seq("doc_a"))
        .join(toks.select(col("doc_id").as("doc_b"), col("w")), Seq("doc_b", "w"))
        .groupBy("doc_a", "doc_b").agg(count("*").as("c"))
      val verified = common
        .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .withColumn("jaccard",
          col("c") * lit(1.0) / (col("na") + col("nb") - col("c")))
        .filter(col("jaccard") >= 0.9)
      // O(n) verdict: canonical = min over verified smaller-id near-dups
      docs.select(col("doc_id"))
        .join(verified.select(col("doc_b").as("doc_id"),
          col("doc_a").as("dup_of")), Seq("doc_id"), "left")
        .groupBy("doc_id")
        .agg(coalesce(min("dup_of"), first("doc_id")).as("canonical_id"),
          count("dup_of").as("n_smaller_dups"))
        .withColumn("is_kept", col("canonical_id") === col("doc_id"))
        .orderBy("doc_id")
    },
    """WITH raw AS (SELECT DISTINCT doc_id, wd FROM (
      |             SELECT doc_id, unnest(string_split(text, ' ')) AS wd
      |             FROM documents)),
      |hot AS (SELECT wd FROM raw GROUP BY wd HAVING count(*) > 200),
      |g AS (SELECT r.doc_id, r.wd FROM raw r
      |      WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.wd = r.wd)),
      |hv AS (SELECT doc_id, i,
      |         min(CAST(('0x' || substr(md5(i || ':' || wd), 1, 15))
      |           AS BIGINT)) AS mh
      |       FROM g, UNNEST(generate_series(0, 15)) t(i)
      |       GROUP BY doc_id, i),
      |cand AS (SELECT DISTINCT da, db FROM (
      |          SELECT a.doc_id AS da, b.doc_id AS db, a.i // 8 AS band
      |          FROM hv a JOIN hv b ON a.i = b.i AND a.mh = b.mh
      |          WHERE a.doc_id < b.doc_id
      |          GROUP BY 1, 2, 3 HAVING count(*) = 8)),
      |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |com AS (SELECT c.da, c.db, count(*) AS cc
      |        FROM cand c
      |        JOIN g ga ON ga.doc_id = c.da
      |        JOIN g gb ON gb.doc_id = c.db AND gb.wd = ga.wd
      |        GROUP BY 1, 2),
      |ver AS (SELECT da, db FROM com
      |        JOIN cnt na ON na.doc_id = da
      |        JOIN cnt nb ON nb.doc_id = db
      |        WHERE cc * 1.0 / (na.n + nb.n - cc) >= 0.9)
      |SELECT d.doc_id,
      |       coalesce(min(v.da), d.doc_id) AS canonical_id,
      |       CAST(count(v.da) AS BIGINT) AS n_smaller_dups,
      |       coalesce(min(v.da), d.doc_id) = d.doc_id AS is_kept
      |FROM documents d LEFT JOIN ver v ON v.db = d.doc_id
      |GROUP BY d.doc_id ORDER BY d.doc_id""")

  /** 60-bit SimHash signatures from unigram token hashes: per bit, sum of
    * +/-1 votes across token hashes, sign becomes the bit. One groupBy
    * with 60 conditional sums — a single shuffle on doc_id. The token
    * hash is the engine-portable md5-slice BIGINT (q88's discipline,
    * 60 bits so every shift stays clear of DuckDB's checked 1<<63), so
    * the whole signature — and the q55-style top-16-bit prefix bucket —
    * is under the hash-exact oracle gate. */
  private val q33Simhash = QueryDef(
    (s, dir) => {
      val toks = Tables.spread(s, unigrams(Tables(s, dir, "documents")))
        .withColumn("th", expr(
          "cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint)"))
      val votes: Seq[Column] = (0 until 60).map { j =>
        sum(when(shiftright(col("th"), j).bitwiseAND(lit(1L)) === 1L, 1)
          .otherwise(-1)).as(s"b$j")
      }
      val agg = toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      val sim = (0 until 60).map { j =>
        when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
      agg.select(col("doc_id"), sim.as("simhash"))
        .withColumn("bucket16", shiftright(col("simhash"), 44))
        .orderBy("doc_id")
    },
    """WITH tk AS (SELECT DISTINCT doc_id, wd FROM (
      |            SELECT doc_id, unnest(string_split(text, ' ')) AS wd
      |            FROM documents)),
      |th AS (SELECT doc_id,
      |         CAST(('0x' || substr(md5(wd), 1, 15)) AS BIGINT) AS h
      |       FROM tk),
      |sv AS (SELECT doc_id, j,
      |         CASE WHEN sum(CASE WHEN (h >> j) & 1 = 1
      |                       THEN 1 ELSE -1 END) > 0
      |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS bit
      |       FROM th, UNNEST(generate_series(0, 59)) t(j)
      |       GROUP BY doc_id, j)
      |SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash,
      |       CAST(sum(bit) AS BIGINT) >> 44 AS bucket16
      |FROM sv GROUP BY doc_id ORDER BY doc_id""")

  /** Embedding-cosine near-duplicate detection — the exact all-pairs
    * ORACLE BASELINE for the semantic-dedup family (q55 is the production
    * LSH-bucketed entry; this one exists to pin the cosine math exactly).
    * Because all-pairs is inherently quadratic, the input is capped at a
    * deterministic ~500-vector sample (`vec_id % k = 0` with
    * k = N/500) so the baseline's bench cost stays FLAT as sf grows —
    * at sf0.01 k=1 and the cap is a no-op. */
  private val q51EmbeddingNeardup = QueryDef(
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val k = math.max(Tables.rowCount(s, dir, "embeddings") / 500L, 1L)
      val sub = e.filter(col("vec_id") % k === 0)
      val a = sub.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
      val b = sub.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
      a.join(b, col("a_id") < col("b_id"))
        .withColumn("c",
          graft.functions.CosineSimilarity.cosineSim(col("a_emb"), col("b_emb")))
        .filter(col("c") >= 0.4)
        .select(col("a_id"), col("b_id"), round(col("c"), 6).as("cosine"))
        .orderBy("a_id", "b_id")
    },
    """WITH s AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  WHERE vec_id % (SELECT greatest(count(*) // 500, 1)
      |                  FROM embeddings) = 0),
      |p AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    list_sum(list_transform(a.embedding,
      |      (x,i) -> CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
      |    (sqrt(list_sum(list_transform(a.embedding,
      |       x -> CAST(x AS DOUBLE) * x))) *
      |     sqrt(list_sum(list_transform(b.embedding,
      |       x -> CAST(x AS DOUBLE) * x)))) AS c
      |  FROM s a JOIN s b ON a.vec_id < b.vec_id)
      |SELECT a_id, b_id, round(c, 6) AS cosine
      |FROM p WHERE c >= 0.4 ORDER BY a_id, b_id""")

  /** Signed-integer hyperplane dot for LSH bucketing, exactly computable
    * in both engines: embeddings are quantized to round(x*1000) (exact —
    * f32→f64 widening then one half-away-from-zero round in both Spark and
    * DuckDB) and dotted with small integer pseudo-hyperplanes
    * w(i,p) = (((i*31 + p*17 + i*p*13) % 97) % 7) - 3, so the bucket
    * decision is pure BIGINT arithmetic with no float-sign ambiguity.
    * (The cross-term + two-modulus reduction keeps planes DISTINCT past
    * p = 7 — see HyperplaneBucket's Scaladoc for the period argument and
    * the measured quadratic blowup the original mod-7-only family hit.)
    *
    * This HOF composition is the REFERENCE form: q55 runs the fused
    * codegen twin (graft.functions.HyperplaneBucket — HOFs are
    * CodegenFallback and break WholeStageCodegen on the scan hot path);
    * HyperplaneBucketSpec proves the two agree on the real embeddings. */
  private[graft] def intPlaneDot(emb: Column, p: Int): Column =
    aggregate(
      transform(emb, (x, i) =>
        round(x.cast("double") * 1000, 0).cast("long") *
          ((i * 31 + p * 17 + i * (p * 13)) % 97 % 7 - 3).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Scale-adaptive hyperplane count: 4 planes at the 500-vector base,
    * +1 per corpus DOUBLING — i.e. 4 + floor(log2(N/500)) — so bucket
    * fan-out (2^planes) tracks corpus size and expected bucket occupancy
    * stays roughly constant at any sf. Computed with exact integer
    * arithmetic (binary digit count), never float log, so the Spark and
    * DuckDB sides can't disagree at a power-of-two boundary. */
  def lshPlanes(nVectors: Long): Int = {
    val ratio = math.max(nVectors / 500L, 1L)
    4 + (63 - java.lang.Long.numberOfLeadingZeros(ratio))
  }

  /** Embedding near-dup, LSH-bucketed — the 100 TB shape for q51's
    * computation: `lshPlanes(N)` integer hyperplanes (4 at sf0.01, 6 at
    * sf0.1) give every vector a 2^planes-way sign bucket; candidate pairs
    * are an EQUI-join on the bucket key (shuffle hash / sort-merge, never
    * BroadcastNestedLoopJoin), and the exact codegen cosine runs only
    * within buckets. q51 remains the exact all-pairs oracle baseline;
    * this is the operator a pipeline would actually run. */
  private val q55EmbeddingNeardupLsh = QueryDef(
    (s, dir) => {
      val planes = lshPlanes(Tables.rowCount(s, dir, "embeddings"))
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          graft.functions.HyperplaneBucket.bucket(col("embedding"), planes)
            .as("bucket"))
      val a = e.select(col("vec_id").as("a_id"),
        col("embedding").as("a_emb"), col("bucket"))
      val b = e.select(col("vec_id").as("b_id"),
        col("embedding").as("b_emb"), col("bucket").as("bucket_b"))
      a.join(b, col("bucket") === col("bucket_b") && col("a_id") < col("b_id"))
        .withColumn("c",
          graft.functions.CosineSimilarity.cosineSim(col("a_emb"), col("b_emb")))
        .filter(col("c") >= 0.4)
        .select(col("a_id"), col("b_id"), round(col("c"), 6).as("cosine"))
        .orderBy("a_id", "b_id")
    },
    """WITH np AS (
      |  SELECT 4 + length(bin(greatest(count(*) // 500, 1))) - 1 AS planes
      |  FROM embeddings),
      |d AS (
      |  SELECT vec_id, embedding,
      |    (SELECT sum(CASE WHEN list_sum(list_transform(embedding, (x,i) ->
      |       CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
      |       * (((((i-1) * 31 + p * 17 + (i-1) * p * 13) % 97) % 7) - 3))) > 0
      |     THEN 1 << p ELSE 0 END)
      |     FROM generate_series(0, 62) t(p), np WHERE p < planes) AS bucket
      |  FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    list_sum(list_transform(a.embedding,
      |      (x,i) -> CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
      |    (sqrt(list_sum(list_transform(a.embedding,
      |       x -> CAST(x AS DOUBLE) * x))) *
      |     sqrt(list_sum(list_transform(b.embedding,
      |       x -> CAST(x AS DOUBLE) * x)))) AS c
      |  FROM d a JOIN d b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      |SELECT a_id, b_id, round(c, 6) AS cosine
      |FROM p WHERE c >= 0.4 ORDER BY a_id, b_id""")

  /** ID-ONLY PROBE EXCHANGE — the scale discipline of this whole family:
    * the exploded probe side carries (a_id, probe_bucket) and NOTHING
    * else, so the (planes+1)× map-side fan-out replicates ~12 bytes/row,
    * never the embedding array. With planes growing as 4 + log₂(N/500)
    * the fan-out is ~22× at 1 B vectors; shipping the payload through it
    * would turn a 300 GB embedding column into a multi-TB exchange. Here
    * the bucket join produces bare candidate (a_id, b_id) pairs and the
    * embeddings re-join BY ID afterwards — each embedding crosses an
    * exchange at most twice (once per pair side), independent of planes,
    * so exchange bytes are ∝ ids + candidates, not ∝ payload × fan-out. */
  private[ext] def multiProbePairs(s: SparkSession, dir: String): DataFrame =
    // plane sizing from the parquet footer: no count job (guide §1.2)
    multiProbePairsOf(Tables(s, dir, "embeddings"),
      Some(Tables.rowCount(s, dir, "embeddings")))

  /** The Hamming≤1 CANDIDATE pair stage of [[multiProbePairsOf]] —
    * factored out so the scale probe (tools.ScaleProbe) can count
    * candidates with the exact production construction. The adaptive
    * plane count is the linearity mechanism: +1 plane per corpus
    * doubling halves expected bucket occupancy, so candidate pairs
    * (∝ n · occupancy · probes) stay ~linear in n instead of the
    * fixed-plane quadratic. */
  private[graft] def multiProbeCandidatesOf(emb: DataFrame,
      nRows: Option[Long] = None): DataFrame = {
    val planes = lshPlanes(nRows.getOrElse(emb.count()))
    val sigs = emb
      .select(col("vec_id"),
        graft.functions.HyperplaneBucket.bucket(col("embedding"), planes)
          .as("bucket"))
    val probeCols = col("bucket") +: (0 until planes).map(p =>
      col("bucket").bitwiseXOR(lit(1 << p)))
    val a = sigs.select(col("vec_id").as("a_id"),
      explode(array(probeCols: _*)).as("pb"))
    val b = sigs.select(col("vec_id").as("b_id"), col("bucket").as("bucket_b"))
    a.join(b, col("pb") === col("bucket_b") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
  }

  private[graft] def multiProbePairsOf(emb: DataFrame,
      nRows: Option[Long] = None): DataFrame = {
    val cand = multiProbeCandidatesOf(emb, nRows)
    cand
      .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb")),
        Seq("a_id"))
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb")),
        Seq("b_id"))
      .withColumn("c",
        graft.functions.CosineSimilarity.cosineSim(col("a_emb"), col("b_emb")))
      .filter(col("c") >= 0.4)
      .select(col("a_id"), col("b_id"), round(col("c"), 6).as("cosine"))
  }

  private[ext] val multiProbePairSql =
    """np AS (
      |  SELECT 4 + length(bin(greatest(count(*) // 500, 1))) - 1 AS planes
      |  FROM embeddings),
      |d AS (
      |  SELECT vec_id, embedding,
      |    (SELECT sum(CASE WHEN list_sum(list_transform(embedding, (x,i) ->
      |       CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
      |       * (((((i-1) * 31 + p * 17 + (i-1) * p * 13) % 97) % 7) - 3))) > 0
      |     THEN 1 << p ELSE 0 END)
      |     FROM generate_series(0, 62) t(p), np WHERE p < planes) AS bucket
      |  FROM embeddings),
      |mp AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    list_sum(list_transform(a.embedding,
      |      (x,i) -> CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
      |    (sqrt(list_sum(list_transform(a.embedding,
      |       x -> CAST(x AS DOUBLE) * x))) *
      |     sqrt(list_sum(list_transform(b.embedding,
      |       x -> CAST(x AS DOUBLE) * x)))) AS c
      |  FROM d a JOIN d b
      |    ON a.vec_id < b.vec_id
      |   AND bit_count(xor(a.bucket, b.bucket)) <= 1)""".stripMargin

  /** Multi-probe near-dup pair join — q74's Hamming-1 probe ball applied
    * to q55's PAIR join, the recall lever q78 proved necessary: at the
    * 0.4 cosine bar single-bucket LSH co-buckets only ~16% of true pairs
    * ((1−θ/π)^planes theory, measured 0.17–0.22), because a planes-bit
    * sign signature splits similar-but-not-identical vectors across
    * adjacent buckets. Probing each vector's home bucket PLUS every
    * one-bit flip admits any pair whose signatures differ by ≤ 1
    * hyperplane — measured pair recall rises 2.6–3.4× (0.58 at sf0.01) for
    * (planes+1)× candidate cost, still a vanishing corpus fraction
    * ((planes+1)/2^planes, shrinking as planes grow with N).
    *
    * Scale shape: the probe side explodes to planes+1 rows per vector
    * and the join stays an EQUI-join on the integer bucket (shuffle
    * hash — never a theta/cross join), so the plan is q55's with
    * (planes+1)× map-side fan-out. Each qualifying pair matches on
    * EXACTLY one probe (signatures at Hamming distance d agree with the
    * probe set for d=0 via the home probe, d=1 via that bit's flip, and
    * never twice), so no post-join dedup is needed — the pair set is
    * exactly {(a,b) : hamming(sig_a, sig_b) ≤ 1, cosine ≥ 0.4}, which is
    * what the DuckDB oracle states declaratively via BIGINT xor. */
  private val q79NeardupMultiprobe = QueryDef(
    (s, dir) => multiProbePairs(s, dir).orderBy("a_id", "b_id"),
    s"""WITH $multiProbePairSql
      |SELECT a_id, b_id, round(c, 6) AS cosine
      |FROM mp WHERE c >= 0.4 ORDER BY a_id, b_id""")

  /** Near-dup PAIR recall of the LSH path — q70's instrumentation idea
    * applied to the dedup family: over q51's capped sample (where exact
    * all-pairs ground truth is affordable), every true near-dup pair
    * (cosine ≥ 0.4) is annotated with whether (a) the q55 single-bucket
    * construction would have co-bucketed it and (b) the q79 multi-probe
    * construction (Hamming ≤ 1 signatures) would have admitted it —
    * the before/after recall a pipeline reads when choosing its near-dup
    * index — plus (c) the Hamming ≤ 2 ball, the THIRD point on the
    * recall/cost curve (probe cost 1 + planes + C(planes,2) buckets):
    * the next lever if a pipeline needs more than the ~0.6 pair recall
    * Hamming ≤ 1 reaches at the 0.4 bar. Single-row output:
    * (n_exact_pairs, n_lsh_pairs, n_multiprobe_pairs,
    * n_multiprobe2_pairs, pair_recall, multiprobe_recall,
    * multiprobe2_recall); recalls are integer divisions (no float-sum
    * ordering). Plane count derives from the SAMPLE size (the
    * experiment's corpus), integer-exact in both engines.
    *
    * The measurement is physically meaningful: at the 0.4 threshold the
    * observed single-bucket recall (0.17 at sf0.001, 0.22 at sf0.01,
    * under the round-11 two-modulus plane family) matches the
    * random-hyperplane theory value (1 − θ/π)^planes ≈ 0.16 for
    * cos θ = 0.4, planes = 4 (higher in aggregate because true pairs
    * sit above the bar), and the multi-probe recall (~0.56–0.58)
    * matches r^k + k·r^(k−1)(1−r) ≈ 0.53 at the boundary — a measured
    * 2.6–3.4× recall lift for (planes+1)× candidate cost. DedupSpec
    * pins the ≥ 3× lift at sf0.001; single-bucket remains fine at the
    * ≥0.9 dedup bar. */
  private val q78NeardupPairRecall = QueryDef(
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val k = math.max(Tables.rowCount(s, dir, "embeddings") / 500L, 1L)
      val sub = e.filter(col("vec_id") % k === 0)
      val planes = lshPlanes(sub.count())
      val d = sub.select(col("vec_id"), col("embedding"),
        graft.functions.HyperplaneBucket.bucket(col("embedding"), planes)
          .as("b"))
      val a = d.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("b").as("ba"))
      val bb = d.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("b").as("bb"))
      a.join(bb, col("a_id") < col("b_id"))
        .withColumn("c",
          graft.functions.CosineSimilarity.cosineSim(col("a_emb"), col("b_emb")))
        .filter(col("c") >= 0.4)
        .agg(count(lit(1)).as("n_exact_pairs"),
          sum(when(col("ba") === col("bb"), 1L).otherwise(0L))
            .as("n_lsh_pairs"),
          sum(when(bit_count(col("ba").bitwiseXOR(col("bb"))) <= 1, 1L)
            .otherwise(0L)).as("n_multiprobe_pairs"),
          sum(when(bit_count(col("ba").bitwiseXOR(col("bb"))) <= 2, 1L)
            .otherwise(0L)).as("n_multiprobe2_pairs"))
        .withColumn("pair_recall",
          col("n_lsh_pairs").cast("double") / col("n_exact_pairs"))
        .withColumn("multiprobe_recall",
          col("n_multiprobe_pairs").cast("double") / col("n_exact_pairs"))
        .withColumn("multiprobe2_recall",
          col("n_multiprobe2_pairs").cast("double") / col("n_exact_pairs"))
    },
    """WITH s AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  WHERE vec_id % (SELECT greatest(count(*) // 500, 1)
      |                  FROM embeddings) = 0),
      |np AS (
      |  SELECT 4 + length(bin(greatest(count(*) // 500, 1))) - 1 AS planes
      |  FROM s),
      |d AS (
      |  SELECT vec_id, embedding,
      |    (SELECT sum(CASE WHEN list_sum(list_transform(embedding, (x,i) ->
      |       CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
      |       * (((((i-1) * 31 + p * 17 + (i-1) * p * 13) % 97) % 7) - 3))) > 0
      |     THEN 1 << p ELSE 0 END)
      |     FROM generate_series(0, 62) t(p), np WHERE p < planes) AS b
      |  FROM s),
      |p AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    a.b = b.b AS same_bucket,
      |    bit_count(xor(a.b, b.b)) <= 1 AS probe_hit,
      |    bit_count(xor(a.b, b.b)) <= 2 AS probe2_hit,
      |    list_sum(list_transform(a.embedding,
      |      (x,i) -> CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
      |    (sqrt(list_sum(list_transform(a.embedding,
      |       x -> CAST(x AS DOUBLE) * x))) *
      |     sqrt(list_sum(list_transform(b.embedding,
      |       x -> CAST(x AS DOUBLE) * x)))) AS c
      |  FROM d a JOIN d b ON a.vec_id < b.vec_id)
      |SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
      |       CAST(sum(CASE WHEN same_bucket THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_lsh_pairs,
      |       CAST(sum(CASE WHEN probe_hit THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_multiprobe_pairs,
      |       CAST(sum(CASE WHEN probe2_hit THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_multiprobe2_pairs,
      |       CAST(sum(CASE WHEN same_bucket THEN 1 ELSE 0 END) AS DOUBLE)
      |         / count(*) AS pair_recall,
      |       CAST(sum(CASE WHEN probe_hit THEN 1 ELSE 0 END) AS DOUBLE)
      |         / count(*) AS multiprobe_recall,
      |       CAST(sum(CASE WHEN probe2_hit THEN 1 ELSE 0 END) AS DOUBLE)
      |         / count(*) AS multiprobe2_recall
      |FROM p WHERE c >= 0.4""")

  /** The q31 pair derivation as oracle CTEs (shared text for q67's
    * recursive-closure oracle). */
  private val pairCtes =
    """sub AS (SELECT doc_id, lang, string_split(text, ' ') AS l
      |        FROM documents WHERE doc_id % 20 = 0),
      |raw AS (SELECT DISTINCT doc_id, lang, l[i] || ' ' || l[i+1] AS sh
      |        FROM sub, UNNEST(generate_series(1, len(l)-1)) AS t(i)),
      |hot AS (SELECT lang, sh FROM raw GROUP BY lang, sh
      |        HAVING count(*) > 100),
      |toks AS (SELECT r.* FROM raw r
      |         WHERE NOT EXISTS (SELECT 1 FROM hot h
      |                           WHERE h.lang = r.lang AND h.sh = r.sh)),
      |cnt AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
      |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      |           FROM toks a JOIN toks b
      |             ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2),
      |pairs AS (SELECT doc_a, doc_b
      |          FROM common JOIN cnt ca ON ca.doc_id = doc_a
      |          JOIN cnt cb ON cb.doc_id = doc_b
      |          WHERE round(c * 1.0 / (ca.n + cb.n - c), 6) >= 0.04)"""
      .stripMargin

  /** Dedup cluster canonicalization — transitive closure over the
    * verified near-dup pairs: pairwise verdicts alone under-merge (A~B,
    * B~C but A and C land in different "clusters" under min-neighbor),
    * so production dedup needs connected components before choosing
    * canonical representatives. Implemented as hash-min label
    * propagation: each vertex starts labeled with itself and iteratively
    * takes the min label over its neighborhood — one equi-join shuffle
    * per iteration, converging in O(graph diameter) rounds (clusters are
    * near-cliques, so 2-4 in practice; hard-capped). Each iteration is
    * localCheckpoint-ed: lineage stays constant-depth, which is THE
    * requirement for iterative DataFrame algorithms at scale. The DuckDB
    * oracle is a recursive CTE over the same pair derivation. */
  private def trunc6(c: Column): Column = floor(c * lit(1e6)) / lit(1e6)

  /** Paragraph-level (intra-document) dedup — the boilerplate detector a
    * corpus cleaner runs NEXT TO whole-doc dedup (q30): headers, footers,
    * and navigation chrome repeat across documents long before whole docs
    * do. Each document is split into paragraphs, every paragraph is
    * fingerprinted with q30's md5 discipline, corpus-wide paragraph
    * frequency is computed, and each doc reports its duplicated-paragraph
    * ratio (the signal a quality gate thresholds on).
    *
    * A real pipeline splits on a separator (`\n\n`); the fixture text
    * carries none, so paragraphs are deterministic fixed-width 3-word
    * segments — the dataflow (explode → ONE md5-keyed window shuffle →
    * per-doc rollup) is identical either way, and the 128-bit fingerprint
    * is the only corpus-wide shuffle key, never the paragraph text. */
  private val q72ParagraphDedup = QueryDef(
    (s, dir) => {
      val segs = Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, cast(ceil(size(w) / 3.0) as int) - 1), " +
            "i -> array_join(slice(w, i * 3 + 1, 3), ' '))")).as("seg"))
        .withColumn("fp", md5(col("seg")))
      // corpus-wide paragraph frequency via ONE exchange on the digest
      segs
        .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_paragraphs"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_paragraphs"))
        .withColumn("dup_ratio", trunc6(
          col("n_dup_paragraphs").cast("double") / col("n_paragraphs")))
        .orderBy("doc_id")
    },
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS l
      |           FROM documents),
      |seg AS (SELECT doc_id,
      |          array_to_string(l[(i-1)*3+1:(i-1)*3+3], ' ') AS seg
      |        FROM w, UNNEST(generate_series(1,
      |          CAST(ceil(len(l) / 3.0) AS BIGINT))) t(i)),
      |d AS (SELECT doc_id,
      |        count(*) OVER (PARTITION BY md5(seg)) AS df
      |      FROM seg)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paragraphs,
      |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_dup_paragraphs,
      |       floor(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |         / count(*) * 1000000) / 1000000 AS dup_ratio
      |FROM d GROUP BY doc_id ORDER BY doc_id""")

  /** Corpus boilerplate REMOVAL — the transform q72 only measures: the
    * CCNet/RefinedWeb cleaning step that strips segments repeated across
    * the corpus (headers, footers, navigation chrome) and emits the
    * cleaned document, not just a ratio. A segment is boilerplate when it
    * appears in >= 3 DISTINCT documents (document frequency, not raw
    * occurrence count — a segment a single doc repeats internally is
    * repetition, q106's signal, not boilerplate). Each doc reports its
    * segment counts and the md5 fingerprint of the order-preserving
    * reconstruction from surviving segments — the fingerprint downstream
    * exact-dedup (q30) runs on, so cleaning and dedup compose.
    *
    * Scale shape: segments explode per-row (q72's fixed-width 3-word
    * split — the fixture carries no newlines); document frequency is ONE
    * map-side-combinable groupBy on the 128-bit digest (count(DISTINCT
    * doc_id) — two-phase, never text); the df table joins back on the
    * digest (shuffle hash join — df table size ∝ distinct segments, NOT
    * broadcastable at corpus scale); reconstruction is a per-doc rollup
    * (collect_list of (idx, seg) structs, null-dropped by the boilerplate
    * flag, array_sort restores document order). Nothing ∝ N² anywhere. */
  private val q105BoilerplateRemoval = QueryDef(
    (s, dir) => {
      val segs = Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, cast(ceil(size(w) / 3.0) as int) - 1), " +
            "i -> array_join(slice(w, i * 3 + 1, 3), ' '))"))
          .as(Seq("idx", "seg")))
        .withColumn("fp", md5(col("seg")))
      val docFreq = segs.groupBy("fp")
        .agg(countDistinct(col("doc_id")).as("df"))
      segs.join(docFreq, Seq("fp"))
        .withColumn("boiler", col("df") >= 3)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segments"),
          sum(when(col("boiler"), 1L).otherwise(0L)).as("n_removed"),
          array_sort(collect_list(
            when(!col("boiler"), struct(col("idx"), col("seg")))))
            .as("kept"))
        .select(col("doc_id"), col("n_segments"), col("n_removed"),
          md5(array_join(expr("transform(kept, x -> x.seg)"), " "))
            .as("cleaned_fp"),
          trunc6((col("n_segments") - col("n_removed")).cast("double")
            / col("n_segments")).as("kept_ratio"))
        .orderBy("doc_id")
    },
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS l
      |           FROM documents),
      |seg AS (SELECT doc_id, i AS idx,
      |          array_to_string(l[(i-1)*3+1:(i-1)*3+3], ' ') AS seg
      |        FROM w, UNNEST(generate_series(1,
      |          CAST(ceil(len(l) / 3.0) AS BIGINT))) t(i)),
      |sf AS (SELECT doc_id, idx, seg, md5(seg) AS fp FROM seg),
      |dfq AS (SELECT fp, count(DISTINCT doc_id) AS df FROM sf GROUP BY fp),
      |j AS (SELECT s.doc_id, s.idx, s.seg, d.df >= 3 AS boiler
      |      FROM sf s JOIN dfq d ON s.fp = d.fp)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
      |       CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_removed,
      |       md5(coalesce(array_to_string(
      |         list(seg ORDER BY idx) FILTER (WHERE NOT boiler), ' '), ''))
      |         AS cleaned_fp,
      |       floor(CAST(count(*) - sum(CASE WHEN boiler THEN 1 ELSE 0 END)
      |           AS DOUBLE) / count(*) * 1000000) / 1000000 AS kept_ratio
      |FROM j GROUP BY doc_id ORDER BY doc_id""")

  /** Quality-aware canonical selection — the representative-choosing
    * policy q67/q80 deliberately left at min-id: production dedup keeps
    * the BEST member of each near-dup cluster, not an arbitrary one
    * (keep-longest is the standard heuristic — truncated scrapes lose to
    * their complete twins; a richer pipeline plugs q37's composite score
    * into the same ORDER BY). Over q67's verified components, each
    * cluster elects the member with the most characters (doc_id breaks
    * ties deterministically) and every member row carries its cluster's
    * verdict — the table a curation DAG joins to swap keep-decisions
    * without re-running connectivity.
    *
    * Scale shape: q67's component labels (one equi-join shuffle per
    * hop), one doc_id equi-join to fetch n_chars, a per-component
    * row_number window for the election, and the winners — ONE row per
    * component — broadcast back against the membership. */
  private val q110QualityCanonical = QueryDef(
    (s, dir) => {
      val comp = connectedComponents(scoredPairs(s, dir)
        .select("doc_a", "doc_b"))
      val j = comp.join(
        Tables(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      val w = Window.partitionBy("component_id")
        .orderBy(desc("n_chars"), asc("doc_id"))
      val winners = j.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("component_id"), col("doc_id").as("canonical_id"))
      j.join(broadcast(winners), Seq("component_id"))
        .withColumn("component_size",
          count(lit(1)).over(Window.partitionBy("component_id"))
            .cast("long"))
        .select(col("doc_id"), col("component_id"), col("component_size"),
          col("canonical_id"),
          (col("doc_id") === col("canonical_id")).as("is_canonical"))
        .orderBy("component_id", "doc_id")
    },
    s"""WITH RECURSIVE $pairCtes,
      |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |      UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT a, a FROM e
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
      |comp AS (SELECT src AS doc_id, min(dst) AS component_id
      |         FROM reach GROUP BY src),
      |j AS (SELECT c.doc_id, c.component_id, d.n_chars
      |      FROM comp c JOIN documents d USING (doc_id)),
      |wn AS (SELECT component_id, doc_id AS canonical_id FROM (
      |         SELECT component_id, doc_id,
      |           row_number() OVER (PARTITION BY component_id
      |             ORDER BY n_chars DESC, doc_id) AS rk FROM j)
      |       WHERE rk = 1)
      |SELECT j.doc_id, j.component_id,
      |       CAST(count(*) OVER (PARTITION BY j.component_id) AS BIGINT)
      |         AS component_size,
      |       w.canonical_id, j.doc_id = w.canonical_id AS is_canonical
      |FROM j JOIN wn w ON j.component_id = w.component_id
      |ORDER BY j.component_id, j.doc_id""")

  /** Leakage-safe train/val/test split — the near-dup-aware form of
    * q56: bucketing docs by their OWN id lets a near-duplicate pair
    * straddle train and test, and the eval set then scores the model on
    * near-copies of its training data (the quiet leak dedup papers warn
    * about). Here the q56 hash-bucket discipline (first md5 hex char:
    * <'c' train 12/16, <'e' val 2/16, else test) is applied to the
    * COMPONENT id from q67's verified near-dup clusters, so every
    * cluster moves between splits atomically; docs in no cluster are
    * their own singleton component and split exactly as q56 would split
    * them. DedupSpec proves no verified near-dup pair ever straddles.
    *
    * Scale shape: q67's label propagation (one equi-join shuffle per
    * hop, cluster membership only — the overwhelming singleton majority
    * never enters it), one left join back to the corpus, and the split
    * is a pure per-row expression on the label. */
  private val q112LeakageSafeSplit = QueryDef(
    (s, dir) => {
      val comp = connectedComponents(scoredPairs(s, dir)
        .select("doc_a", "doc_b"))
      val labeled = Tables(s, dir, "documents").select(col("doc_id"))
        .join(comp.select("doc_id", "component_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component_id"), col("doc_id")).as("component_id"))
      val h = substring(md5(col("component_id").cast("string")), 1, 1)
      labeled
        .withColumn("split", when(h < "c", "train")
          .when(h < "e", "val").otherwise("test"))
        .orderBy("doc_id")
    },
    s"""WITH RECURSIVE $pairCtes,
      |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |      UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT a, a FROM e
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
      |comp AS (SELECT src AS doc_id, min(dst) AS component_id
      |         FROM reach GROUP BY src),
      |lab AS (SELECT d.doc_id,
      |          coalesce(c.component_id, d.doc_id) AS component_id
      |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
      |SELECT doc_id, component_id,
      |  CASE WHEN substr(md5(CAST(component_id AS VARCHAR)), 1, 1) < 'c'
      |         THEN 'train'
      |       WHEN substr(md5(CAST(component_id AS VARCHAR)), 1, 1) < 'e'
      |         THEN 'val'
      |       ELSE 'test' END AS split
      |FROM lab ORDER BY doc_id""")

  /** Split-leakage AUDIT row — the acceptance instrument for q112
    * (q94's discipline applied to splitting): over the verified near-dup
    * pairs, count how many straddle a split boundary under (a) q56's
    * per-doc hash bucketing and (b) q112's per-component bucketing. The
    * component count is structurally zero — a pair's endpoints share a
    * component BY CONSTRUCTION, so they share a bucket — and the row
    * proves it through the oracle rather than by assertion; the doc-id
    * count is the leak a pipeline silently ships without q112: every
    * straddling pair puts a near-copy of a training doc into eval. One
    * pair-table aggregation, no corpus scan at all. */
  private val q114SplitLeakageAudit = QueryDef(
    (s, dir) => {
      val pairs = scoredPairs(s, dir).select("doc_a", "doc_b")
      val comp = connectedComponents(pairs)
      def bucket(c: Column): Column = {
        val h = substring(md5(c.cast("string")), 1, 1)
        when(h < "c", "train").when(h < "e", "val").otherwise("test")
      }
      val withComp = pairs
        .join(comp.select(col("doc_id").as("doc_a"),
          col("component_id").as("comp_a")), Seq("doc_a"))
        .join(comp.select(col("doc_id").as("doc_b"),
          col("component_id").as("comp_b")), Seq("doc_b"))
      withComp.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(bucket(col("doc_a")) =!= bucket(col("doc_b")), 1L)
          .otherwise(0L)).as("leaky_docid_split"),
        sum(when(bucket(col("comp_a")) =!= bucket(col("comp_b")), 1L)
          .otherwise(0L)).as("leaky_component_split"))
    },
    s"""WITH RECURSIVE $pairCtes,
      |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |      UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT a, a FROM e
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
      |comp AS (SELECT src AS doc_id, min(dst) AS component_id
      |         FROM reach GROUP BY src),
      |sp AS (SELECT p.doc_a, p.doc_b,
      |         ca.component_id AS comp_a, cb.component_id AS comp_b
      |       FROM pairs p
      |       JOIN comp ca ON ca.doc_id = p.doc_a
      |       JOIN comp cb ON cb.doc_id = p.doc_b)
      |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(CASE WHEN
      |    (CASE WHEN substr(md5(CAST(doc_a AS VARCHAR)), 1, 1) < 'c'
      |            THEN 'train'
      |          WHEN substr(md5(CAST(doc_a AS VARCHAR)), 1, 1) < 'e'
      |            THEN 'val' ELSE 'test' END) <>
      |    (CASE WHEN substr(md5(CAST(doc_b AS VARCHAR)), 1, 1) < 'c'
      |            THEN 'train'
      |          WHEN substr(md5(CAST(doc_b AS VARCHAR)), 1, 1) < 'e'
      |            THEN 'val' ELSE 'test' END)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS leaky_docid_split,
      |  CAST(sum(CASE WHEN
      |    (CASE WHEN substr(md5(CAST(comp_a AS VARCHAR)), 1, 1) < 'c'
      |            THEN 'train'
      |          WHEN substr(md5(CAST(comp_a AS VARCHAR)), 1, 1) < 'e'
      |            THEN 'val' ELSE 'test' END) <>
      |    (CASE WHEN substr(md5(CAST(comp_b AS VARCHAR)), 1, 1) < 'c'
      |            THEN 'train'
      |          WHEN substr(md5(CAST(comp_b AS VARCHAR)), 1, 1) < 'e'
      |            THEN 'val' ELSE 'test' END)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS leaky_component_split
      |FROM sp""")

  /** Reusable connected-components core (hash-min label propagation) over
    * an undirected pair list `(doc_a, doc_b)`: each vertex starts labeled
    * with itself and iteratively takes the min label over its
    * neighborhood — one equi-join shuffle per hop, 4 hops folded into
    * each materialized convergence check, localCheckpoint-ed so lineage
    * stays constant-depth. Converges in O(component diameter) hops.
    * Iteration cost on real dedup graphs (near-clique components,
    * diameter 2-4) is dominated by Spark JOB OVERHEAD per materialized
    * round, not data volume — folding one more hop per round cuts a
    * whole job+checkpoint cycle on graphs that converge in 1-2 checks
    * (a 2-hop fold was measured SLOWER at sf0.1: the extra
    * round+checkpoint+collect outweighs the two hops it saves).
    *
    * NON-CONVERGENCE IS LOUD: if the fixpoint is not reached within
    * `maxIters` quad-hop rounds (diameter > 4·maxIters, e.g. a
    * pathological chain corpus), this THROWS rather than returning
    * silently-wrong labels — an oracle mismatch must never be a masked
    * convergence failure. Sizing: label propagation needs one hop per
    * unit of component diameter, so set maxIters ≥ ceil(diameter / 4);
    * the default 10 (40 hops) covers every real near-dup graph (near-
    * clique, diameter 2-4) with a wide margin, and trips only on
    * chain-like shapes — e.g. a template corpus where each revision
    * pairs only with its neighbor, giving diameter ≈ revision count.
    * Cost of raising it is one job + localCheckpoint per extra round,
    * paid ONLY by graphs that actually need the hops (the fixpoint
    * check exits early). DedupSpec proves detection on a >40-hop path
    * graph and convergence of the same graph under a raised cap. */
  private[graft] def connectedComponents(pairs: DataFrame,
      maxIters: Int = 10): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    // seed with one propagation round for free: lbl = min(v, neighbors)
    var labels = edges.groupBy(col("src").as("v"))
      .agg(least(min("dst"), first("src")).as("lbl"))
      .localCheckpoint(true)
    // one distributed round of hash-min propagation (pure plan, no action)
    def step(l: DataFrame): DataFrame =
      l.union(edges
          .join(l.select(col("v").as("dst"), col("lbl")), "dst")
          .select(col("src").as("v"), col("lbl")))
        .groupBy("v").agg(min("lbl").as("lbl"))
    // convergence check, DIRECT form: labels are per-vertex MONOTONICALLY
    // NON-INCREASING and the vertex set is fixed, so `labels` is a
    // fixpoint iff sum(step(labels)) == sum(labels). Both sums evaluate
    // in ONE job (cross-joined one-row aggregates over the checkpointed
    // labels — a bounded driver-side action, never part of the returned
    // plan). Checking the CURRENT labels directly — rather than running
    // a full quad-hop round and comparing its sum to the previous
    // round's — saves an entire 8-exchange confirm round on every graph
    // that has already converged, which real dedup graphs (near-clique,
    // diameter 2-4) reach after the seed or one round. Summing in
    // decimal(38,0) keeps the check exact at any corpus size.
    def isFixpoint(l: DataFrame): Boolean = {
      val r = l.agg(sum(col("lbl").cast("decimal(38,0)")).as("s1"))
        .crossJoin(step(l)
          .agg(sum(col("lbl").cast("decimal(38,0)")).as("s2")))
        .collect()(0)
      val a = if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
      val b = if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1)
      a.compareTo(b) == 0
    }
    var converged = isFixpoint(labels)
    var iter = 0
    while (!converged && iter < maxIters) {
      // fold 4 propagation hops into ONE materialized job per round:
      // iteration cost here is Spark job overhead, not data volume
      labels = step(step(step(step(labels)))).localCheckpoint(true)
      converged = isFixpoint(labels)
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"label propagation did not converge in $maxIters rounds " +
          s"(${4 * maxIters} hops): a component's diameter exceeds the " +
          "cap; raise maxIters for this graph shape")
    labels.select(col("v").as("doc_id"), col("lbl").as("component_id"))
  }

  private val q67DedupComponents = QueryDef(
    (s, dir) => {
      val comp = connectedComponents(scoredPairs(s, dir)
        .select("doc_a", "doc_b"))
      comp
        .withColumn("component_size",
          count(lit(1)).over(Window.partitionBy("component_id")).cast("long"))
        .orderBy("component_id", "doc_id")
    },
    s"""WITH RECURSIVE $pairCtes,
      |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |      UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT a, a FROM e
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
      |comp AS (SELECT src AS doc_id, min(dst) AS component_id
      |         FROM reach GROUP BY src)
      |SELECT doc_id, component_id,
      |       CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT)
      |         AS component_size
      |FROM comp ORDER BY component_id, doc_id""")

  /** End-to-end SEMANTIC dedup — how embedding near-dup actually ships:
    * q79's multi-probe pair join feeds q67's connected-components closure
    * (pairwise verdicts under-merge: A~B, B~C must collapse to ONE
    * canonical even when A~C misses the bar), and every vector gets a
    * per-doc verdict — its component's canonical id (the min member),
    * whether it is the kept representative, and the component size.
    * Singletons (no near-dup) are their own canonical via the left join.
    *
    * Scale shape: pairs arrive through q79's bucket equi-join
    * ((planes+1)× map fan-out, never theta), the closure is one
    * equi-join shuffle per hop with constant-depth lineage
    * (localCheckpoint), and the verdict join shuffles on vec_id. The
    * DuckDB oracle restates the whole DAG declaratively: Hamming ≤ 1
    * pairs via BIGINT xor, closure via recursive CTE (q67's oracle
    * discipline), verdicts via left join + count window. */
  private val q80SemanticDedup = QueryDef(
    (s, dir) => {
      val pairs = multiProbePairs(s, dir)
        .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"))
      val comp = connectedComponents(pairs)
        .withColumnRenamed("doc_id", "vec_id")
      Tables(s, dir, "embeddings").select(col("vec_id"))
        .join(comp, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("component_id"), col("vec_id")).as("component_id"))
        .withColumn("is_kept", col("component_id") === col("vec_id"))
        .withColumn("component_size",
          count(lit(1)).over(Window.partitionBy("component_id")).cast("long"))
        .orderBy("vec_id")
    },
    s"""WITH RECURSIVE $multiProbePairSql,
      |pairs AS (SELECT a_id AS doc_a, b_id AS doc_b
      |          FROM mp WHERE c >= 0.4),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |      UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT a, a FROM e
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
      |comp AS (SELECT src AS vec_id, min(dst) AS component_id
      |         FROM reach GROUP BY src)
      |SELECT emb.vec_id,
      |       coalesce(c.component_id, emb.vec_id) AS component_id,
      |       coalesce(c.component_id, emb.vec_id) = emb.vec_id AS is_kept,
      |       CAST(count(*) OVER (PARTITION BY
      |           coalesce(c.component_id, emb.vec_id)) AS BIGINT)
      |         AS component_size
      |FROM embeddings emb LEFT JOIN comp c ON emb.vec_id = c.vec_id
      |ORDER BY emb.vec_id""")

  /** Duplication-aware loss weighting — SOFT dedup: instead of dropping
    * near-duplicates (q67/q110's hard policy), every document stays in
    * the corpus carrying weight 1/component_size, so each near-dup
    * cluster contributes ONE document's worth of loss mass in
    * expectation while preserving the cluster's internal variation
    * (hard dedup keeps an arbitrary canonical and discards the
    * variants' phrasing diversity). `eff_tokens` = n_tokens/size is the
    * per-doc effective token mass the weighted corpus budget sums over
    * — the number a mixing stage (q77) would meter against instead of
    * raw tokens. Singletons weigh 1.0 via the left join (q80's rule).
    * Both divisions truncate at 1e-6 with the SAME expression shape in
    * both engines (q109's discipline), keeping the row hash-exact.
    *
    * Scale shape: q67's closure (one equi-join shuffle per hop) + one
    * doc_id join for token counts + one component-keyed count window —
    * nothing new beyond the component machinery it reuses. */
  private val q120DupWeights = QueryDef(
    (s, dir) => {
      val comp = connectedComponents(scoredPairs(s, dir)
        .select("doc_a", "doc_b"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("component_id"), col("doc_id")).as("component_id"))
        .withColumn("component_size",
          count(lit(1)).over(Window.partitionBy("component_id"))
            .cast("long"))
        .withColumn("weight",
          floor(lit(1e6) / col("component_size")) / lit(1e6))
        .withColumn("eff_tokens",
          floor(col("n_tokens") * lit(1e6) / col("component_size"))
            / lit(1e6))
        .orderBy("doc_id")
    },
    s"""WITH RECURSIVE $pairCtes,
      |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |      UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT a, a FROM e
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
      |comp AS (SELECT src AS doc_id, min(dst) AS component_id
      |         FROM reach GROUP BY src),
      |j AS (SELECT d.doc_id,
      |        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      |        coalesce(c.component_id, d.doc_id) AS component_id
      |      FROM documents d LEFT JOIN comp c USING (doc_id)),
      |sz AS (SELECT doc_id, n_tokens, component_id,
      |         CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT)
      |           AS component_size
      |       FROM j)
      |SELECT doc_id, n_tokens, component_id, component_size,
      |       floor(1e6 / component_size) / 1e6 AS weight,
      |       floor(n_tokens * 1e6 / component_size) / 1e6 AS eff_tokens
      |FROM sz ORDER BY doc_id""".stripMargin)

  /** Per-source duplication-inflation data card — what q120's soft
    * weights buy at the corpus ledger: for every source, the raw token
    * count vs the EFFECTIVE token count (each doc contributing
    * n_tokens/component_size), and their ratio — the number that says
    * "source X's volume is 1.4× its information" and re-prices a
    * mixing decision (q57/q77 meter raw tokens; a dup-heavy source
    * earns a smaller share than its raw mass suggests).
    *
    * Hash-exactness discipline: per-doc effective mass is kept as an
    * INTEGER micro-token count (floor(n_tokens·1e6/size) BIGINT), so
    * the per-source sum is exact BIGINT arithmetic — summing truncated
    * DOUBLES would be addition-order-dependent and hash-unstable. The
    * single double division happens once per output row, with the same
    * expression shape in both engines.
    *
    * Scale shape: q120's closure + one source-keyed aggregation —
    * map-side combinable, output bounded by source cardinality. */
  private val q122DupInflation = QueryDef(
    (s, dir) => {
      val comp = connectedComponents(scoredPairs(s, dir)
        .select("doc_a", "doc_b"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          coalesce(col("component_id"), col("doc_id")).as("component_id"))
        .withColumn("component_size",
          count(lit(1)).over(Window.partitionBy("component_id"))
            .cast("long"))
        .withColumn("eff_micro",
          floor(col("n_tokens") * lit(1e6) / col("component_size"))
            .cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("raw_tokens"),
          sum("eff_micro").as("eff_micro"))
        // eff_micro sums to 0 when a source's docs are so short and so
        // duplicated that every floor(n_tokens*1e6/size) truncates to 0
        // (possible at production scale: components > 1e6 members) —
        // guard the division so the ledger reads NULL, not Infinity
        .withColumn("inflation",
          when(col("eff_micro") > 0,
            floor(col("raw_tokens") * lit(1e6) / (col("eff_micro") / lit(1e6)))
              / lit(1e6)))
        .orderBy("source")
    },
    s"""WITH RECURSIVE $pairCtes,
      |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |      UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT a, a FROM e
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
      |comp AS (SELECT src AS doc_id, min(dst) AS component_id
      |         FROM reach GROUP BY src),
      |j AS (SELECT d.doc_id, d.source,
      |        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      |        coalesce(c.component_id, d.doc_id) AS component_id
      |      FROM documents d LEFT JOIN comp c USING (doc_id)),
      |sz AS (SELECT doc_id, source, n_tokens,
      |         CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT)
      |           AS component_size
      |       FROM j),
      |em AS (SELECT source, n_tokens,
      |         CAST(floor(n_tokens * 1e6 / component_size) AS BIGINT)
      |           AS eff_micro
      |       FROM sz),
      |ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
      |         CAST(sum(eff_micro) AS BIGINT) AS eff_micro
      |       FROM em GROUP BY source)
      |SELECT source, n_docs, raw_tokens, eff_micro,
      |       CASE WHEN eff_micro > 0 THEN
      |         floor(raw_tokens * 1e6 / (eff_micro / 1e6)) / 1e6
      |       END AS inflation
      |FROM ag ORDER BY source""".stripMargin)

  /** (doc_id, t, word) token positions (1-based) of a (doc_id, text)
    * frame — the q134 family's row shape. */
  private[graft] def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("l"))
      .select(col("doc_id"), posexplode(col("l")).as(Seq("t0", "word")))
      .select(col("doc_id"), (col("t0") + 1).as("t"), col("word"))

  /** (doc_id, s, fp) — every token position s (1-based) opens a k-token
    * shingle, md5-fingerprinted; docs shorter than k contribute none
    * (the CASE guards Spark's descending sequence(1, 0)). */
  private[graft] def shingleStarts(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("l"))
      .select(col("doc_id"), posexplode(expr(
        s"case when size(l) >= $k then " +
          s"transform(sequence(1, size(l) - ${k - 1}), " +
          s"i -> md5(array_join(slice(l, i, $k), ' '))) " +
          "else array() end")).as(Seq("s0", "fp")))
      .select(col("doc_id"), (col("s0") + 1).as("s"), col("fp"))

  /** The q134 dataflow over any (doc_id, text) frame — factored so
    * DedupSpec can plant exact shared runs at arbitrary offsets and
    * hold the excision to token-level expectations, and so
    * [[SubstringDfIndex]] can re-run the same interval algebra with a
    * document frequency that spans the PERSISTED corpus, not just the
    * batch. */
  private[graft] def substringExcise(docs: DataFrame, k: Int): DataFrame = {
    val starts = shingleStarts(docs, k)
    val dupFps = starts.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2).select("fp")
    exciseCovered(docTokens(docs),
      starts.join(dupFps, Seq("fp"), "left_semi").select("doc_id", "s"), k)
  }

  /** The interval-algebra half of the excision: given the token rows
    * and the DUPLICATED shingle starts (doc_id, s) — however their df
    * was established — cover [s, s+k-1] per start via the windowed
    * running max, merge covered runs into maximal spans, and emit the
    * per-doc q134 row (counts, ratio, cleaned reconstruction). */
  private[graft] def exciseCovered(toks: DataFrame, starts: DataFrame,
      k: Int): DataFrame = {
      val dupStarts = starts
        .select(col("doc_id").as("sdoc"), col("s"), lit(1).as("d"))
      val wCov = Window.partitionBy("doc_id").orderBy("t")
        .rowsBetween(-(k - 1), 0)
      val wLag = Window.partitionBy("doc_id").orderBy("t")
      toks.join(dupStarts,
          col("doc_id") === col("sdoc") && col("t") === col("s"), "left")
        .select(col("doc_id"), col("t"), col("word"),
          coalesce(col("d"), lit(0)).as("d"))
        .withColumn("covered", max(col("d")).over(wCov))
        .withColumn("ss", when(col("covered") === 1 &&
          coalesce(lag(col("covered"), 1).over(wLag), lit(0)) === 0, 1)
          .otherwise(0))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum("covered").cast("long").as("dup_tokens"),
          sum("ss").cast("long").as("n_spans"),
          array_sort(collect_list(when(col("covered") === 0,
            struct(col("t"), col("word"))))).as("kept"))
        .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
          col("n_spans"),
          trunc6(col("dup_tokens").cast("double") / col("n_tokens"))
            .as("removed_ratio"),
          md5(array_join(expr("transform(kept, x -> x.word)"), " "))
            .as("cleaned_fp"))
        .orderBy("doc_id")
  }

  /** EXACT repeated-substring EXCISION — the suffix-array dedup of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al., ACL 2022, public) re-expressed as Spark dataflow: any ≥8-token
    * run that appears VERBATIM in more than one document is cut out of
    * every document mid-paragraph, and maximal overlapping repeats merge
    * into single excised spans. This is the sub-segment-granularity op
    * the rest of the family cannot express: q105 tiles FIXED 3-word
    * segments (a repeat offset by one word straddles two tiles and
    * survives), q107 flags chunks, q58/q69 flag docs — none excises at
    * token positions.
    *
    * Dataflow (suffix arrays don't distribute; overlapping shingles +
    * interval algebra do, same observation as the paper's own MinHash
    * fallback): (1) every token position opens an 8-token shingle,
    * md5-fingerprinted; (2) one fp-keyed shuffle computes cross-doc
    * document frequency, df ≥ 2 marks the shingle start duplicated
    * (left_semi back — flags travel as (doc, position) pairs, never
    * text); (3) a position is COVERED iff some duplicated shingle
    * starting in the previous 8 positions spans it — a windowed
    * running max over the per-doc position order; (4) covered runs
    * merge into maximal spans by the lag-boundary trick (q29's
    * sessionization shape on token positions); (5) per doc: counts,
    * span count, removed ratio, and the md5 of the CLEANED text
    * (surviving tokens rejoined in order — the q105 reconstruction
    * discipline, so the oracle proves the excision itself, not just
    * its bookkeeping). Two shuffles total (fp-keyed df, doc-keyed
    * window+agg), both linear in corpus tokens at 100 TB; per-doc
    * window state is bounded by document length. */
  private val q134SubstringDedup = QueryDef(
    (s, dir) => substringExcise(Tables(s, dir, "documents"), k = 8),
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS l
      |           FROM documents),
      |tok AS (SELECT doc_id, i AS t, l[i] AS word
      |        FROM w, UNNEST(generate_series(1, length(l))) AS u(i)),
      |sh AS (SELECT doc_id, i AS s,
      |         md5(array_to_string(l[i:i+7], ' ')) AS fp
      |       FROM w, UNNEST(generate_series(1, length(l) - 7)) AS u(i)),
      |dup AS (SELECT fp FROM sh GROUP BY fp
      |        HAVING count(DISTINCT doc_id) >= 2),
      |st AS (SELECT doc_id, s, 1 AS d FROM sh
      |       WHERE fp IN (SELECT fp FROM dup)),
      |cv AS (SELECT t.doc_id, t.t, t.word,
      |         max(coalesce(st.d, 0)) OVER (PARTITION BY t.doc_id
      |           ORDER BY t.t ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
      |           AS covered
      |       FROM tok t LEFT JOIN st
      |         ON st.doc_id = t.doc_id AND st.s = t.t),
      |rn AS (SELECT doc_id, t, word, covered,
      |         CASE WHEN covered = 1 AND coalesce(lag(covered) OVER
      |           (PARTITION BY doc_id ORDER BY t), 0) = 0
      |         THEN 1 ELSE 0 END AS ss
      |       FROM cv)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(covered) AS BIGINT) AS dup_tokens,
      |       CAST(sum(ss) AS BIGINT) AS n_spans,
      |       floor(sum(covered) / count(*) * 1e6) / 1e6 AS removed_ratio,
      |       md5(coalesce(string_agg(word, ' ' ORDER BY t)
      |         FILTER (WHERE covered = 0), '')) AS cleaned_fp
      |FROM rn GROUP BY doc_id ORDER BY doc_id""")

  /** INCREMENTAL substring excision — q134 through the persisted
    * [[SubstringDfIndex]], both admission phases under ONE oracle that
    * restates the forward-only contract: batch A (even doc_ids) admits
    * first and is cleaned against itself alone (df within A); batch B
    * (odd) is cleaned against the PERSISTED corpus plus itself (df over
    * A ∪ B). The asymmetry is the point and the fixture exercises it:
    * a duplicate pair straddling the parity split keeps its even doc
    * intact (df was 1 when it admitted) while the odd doc arrives at
    * df 2 and is excised — exactly what a streaming curation pipeline
    * does, and exactly what the batch q134 does NOT do (it excises both
    * sides). phase = admission run of the row. */
  private val q135SubstringIndex = QueryDef(
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val idx = java.nio.file.Files
        .createTempDirectory("graft-q135-idx").resolve("index").toString
      val outA = SubstringDfIndex.admit(s, idx,
        docs.filter(col("doc_id") % 2 === 0), runId = 0L)
      val outB = SubstringDfIndex.admit(s, idx,
        docs.filter(col("doc_id") % 2 === 1), runId = 1L)
      outA.withColumn("phase", lit(0L))
        .unionByName(outB.withColumn("phase", lit(1L)))
        .orderBy("doc_id")
    },
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS l
      |           FROM documents),
      |tok AS (SELECT doc_id, i AS t, l[i] AS word
      |        FROM w, UNNEST(generate_series(1, length(l))) AS u(i)),
      |sh AS (SELECT doc_id, i AS s,
      |         md5(array_to_string(l[i:i+7], ' ')) AS fp
      |       FROM w, UNNEST(generate_series(1, length(l) - 7)) AS u(i)),
      |dfa AS (SELECT fp FROM sh WHERE doc_id % 2 = 0
      |        GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
      |dfall AS (SELECT fp FROM sh
      |          GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
      |st AS (SELECT doc_id, s, 1 AS d FROM sh
      |       WHERE (doc_id % 2 = 0 AND fp IN (SELECT fp FROM dfa))
      |          OR (doc_id % 2 = 1 AND fp IN (SELECT fp FROM dfall))),
      |cv AS (SELECT t.doc_id, t.t, t.word,
      |         max(coalesce(st.d, 0)) OVER (PARTITION BY t.doc_id
      |           ORDER BY t.t ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
      |           AS covered
      |       FROM tok t LEFT JOIN st
      |         ON st.doc_id = t.doc_id AND st.s = t.t),
      |rn AS (SELECT doc_id, t, word, covered,
      |         CASE WHEN covered = 1 AND coalesce(lag(covered) OVER
      |           (PARTITION BY doc_id ORDER BY t), 0) = 0
      |         THEN 1 ELSE 0 END AS ss
      |       FROM cv)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(covered) AS BIGINT) AS dup_tokens,
      |       CAST(sum(ss) AS BIGINT) AS n_spans,
      |       floor(sum(covered) / count(*) * 1e6) / 1e6 AS removed_ratio,
      |       md5(coalesce(string_agg(word, ' ' ORDER BY t)
      |         FILTER (WHERE covered = 0), '')) AS cleaned_fp,
      |       CAST(doc_id % 2 AS BIGINT) AS phase
      |FROM rn GROUP BY doc_id ORDER BY doc_id""")

  val defs: Map[String, QueryDef] = Map(
    "q134_substring_dedup" -> q134SubstringDedup,
    "q135_substring_index" -> q135SubstringIndex,
    "q122_dup_inflation" -> q122DupInflation,
    "q120_dup_weights" -> q120DupWeights,
    "q30_dedup_exact" -> q30ExactDedup,
    "q31_ngram_jaccard" -> q31NgramJaccard,
    "q67_dedup_components" -> q67DedupComponents,
    "q72_paragraph_dedup" -> q72ParagraphDedup,
    "q105_boilerplate_removal" -> q105BoilerplateRemoval,
    "q110_quality_canonical" -> q110QualityCanonical,
    "q112_leakage_safe_split" -> q112LeakageSafeSplit,
    "q114_split_leakage_audit" -> q114SplitLeakageAudit,
    "q78_neardup_pair_recall" -> q78NeardupPairRecall,
    "q79_neardup_multiprobe" -> q79NeardupMultiprobe,
    "q80_semantic_dedup" -> q80SemanticDedup,
    "q32_minhash_lsh" -> q32MinhashLsh,
    "q33_simhash" -> q33Simhash,
    "q51_embedding_neardup" -> q51EmbeddingNeardup,
    "q55_embedding_neardup_lsh" -> q55EmbeddingNeardupLsh,
  )
}
