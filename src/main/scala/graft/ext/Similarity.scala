package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}

/** Similarity search over the embedding column (north star): brute-force
  * cosine top-k as the exact baseline, and a random-hyperplane LSH
  * variant as the scale path. The query set is broadcast, so the scan of
  * the candidate side is shuffle-free and embarrassingly parallel — the
  * right shape for "k queries against 100 TB of vectors".
  */
object Similarity {

  /** Cosine via the native codegen expression
    * (graft.functions.CosineSimilarity) — one fused loop inside
    * WholeStageCodegen; the higher-order-function formulation is
    * CodegenFallback and would break the codegen stage. Identical FP
    * result to dot/(sqrt(nx)*sqrt(ny)) computed sequentially, so the
    * DuckDB oracle still matches bitwise. */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosineSim(a, b)

  /** Metadata-FILTERED exact KNN — vector search constrained by a
    * document predicate (here lang = 'en'; the fixtures align
    * embeddings.vec_id with documents.doc_id), the query every
    * retrieval product exposes as "vector search + filters". The
    * predicate applies as a PRE-filter — a semi-join of the candidate
    * scan against the filtered metadata ids BEFORE any distance work —
    * which is the correct semantic: post-filtering an unfiltered top-k
    * silently returns fewer than k rows whenever out-of-filter docs
    * dominate the neighborhood, and recomputing with a bigger k is a
    * retry loop, not an operator. Top-5 per query among qualifying
    * candidates only, q34's proven cosine + tie-breaks.
    *
    * Scale shape: the metadata predicate pushes to the documents
    * parquet scan (PushedFilters), the id semi-join prunes candidates
    * before the broadcast-query cosine scan, and the top-k window is
    * q34's — distance work ∝ qualifying candidates, never corpus. */
  private val q102FilteredKnn = QueryDef(
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val keep = Tables(s, dir, "documents")
        .filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val cand = e.join(keep, Seq("vec_id"), "left_semi")
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      val w = Window.partitionBy("q_id").orderBy(desc("cos_raw"), asc("n_id"))
      cand.join(broadcast(q), col("n_id") =!= col("q_id"))
        .withColumn("cos_raw", cosine(col("q_emb"), col("n_emb")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("n_id"),
          round(col("cos_raw"), 6).as("cosine"),
          col("rk").cast("long").as("rk"))
        .orderBy("q_id", "rk")
    },
    """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
      |           FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT e.vec_id AS n_id, e.embedding AS n_emb
      |      FROM embeddings e
      |      WHERE EXISTS (SELECT 1 FROM documents d
      |                    WHERE d.doc_id = e.vec_id AND d.lang = 'en')),
      |p AS (SELECT q_id, n_id,
      |        list_sum(list_transform(q_emb,
      |          (x,i) -> CAST(x AS DOUBLE) * CAST(n_emb[i] AS DOUBLE)))
      |          AS dot,
      |        sqrt(list_sum(list_transform(q_emb,
      |          x -> CAST(x AS DOUBLE) * x))) AS nq,
      |        sqrt(list_sum(list_transform(n_emb,
      |          x -> CAST(x AS DOUBLE) * x))) AS nn
      |      FROM c, q WHERE n_id <> q_id)
      |SELECT q_id, n_id, round(dot/(nq*nn), 6) AS cosine,
      |       row_number() OVER (PARTITION BY q_id
      |         ORDER BY dot/(nq*nn) DESC, n_id) AS rk
      |FROM p QUALIFY rk <= 5 ORDER BY q_id, rk""")

  /** Exact brute-force cosine top-5 for each query vector (vec_id < 10):
    * broadcast the query set, score every vector with the fused codegen
    * cosine, take the per-query top-k with a window over the scan. */
  private val q34KnnBrute = QueryDef(
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val c = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      val scored = c.join(broadcast(q), col("n_id") =!= col("q_id"))
        .withColumn("cos_raw", cosine(col("q_emb"), col("n_emb")))
      val w = Window.partitionBy("q_id").orderBy(desc("cos_raw"), asc("n_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("n_id"),
          round(col("cos_raw"), 6).as("cosine"),
          col("rk").cast("long").as("rk"))
        .orderBy("q_id", "rk")
    },
    """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
      |           FROM embeddings WHERE vec_id < 10),
      |p AS (SELECT q_id, vec_id AS n_id,
      |        list_sum(list_transform(q_emb,
      |          (x,i) -> CAST(x AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
      |          AS dot,
      |        sqrt(list_sum(list_transform(q_emb,
      |          x -> CAST(x AS DOUBLE) * x))) AS nq,
      |        sqrt(list_sum(list_transform(embedding,
      |          x -> CAST(x AS DOUBLE) * x))) AS nn
      |      FROM embeddings, q WHERE vec_id <> q_id)
      |SELECT q_id, n_id, round(dot/(nq*nn), 6) AS cosine,
      |       row_number() OVER (PARTITION BY q_id
      |         ORDER BY dot/(nq*nn) DESC, n_id) AS rk
      |FROM p QUALIFY rk <= 5 ORDER BY q_id, rk""")

  /** Random-hyperplane LSH ANN: 4 fixed hyperplanes give every vector a
    * 4-bit sign bucket; queries only score vectors in their own bucket.
    * Candidate scoring is ~1/2^4 of brute force in expectation — the
    * IVF-style scale path (q74 is this operator's multi-probe recall
    * lever). The planes are the INTEGER-EXACT codegen hyperplanes
    * (graft.functions.HyperplaneBucket, q55/q74's discipline: grid
    * points × small deterministic ±3 coefficients, sign in BIGINT) —
    * originally float Gaussians seeded from Scala's Random, which no
    * SQL engine could restate, keeping this query golden-pinned for
    * seven rounds; re-seeding onto the integer grid put the whole
    * operator, bucket assignment included, under the DuckDB hash gate
    * with zero change to its candidate-pruning shape. */
  private val q35KnnLsh = QueryDef(
    (s, dir) => {
      val e0 = Tables(s, dir, "embeddings")
      val e = e0.select(col("vec_id"), col("embedding"),
        graft.functions.HyperplaneBucket.bucket(col("embedding"), 4)
          .as("bucket"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("bucket").as("q_bucket"))
      val c = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("bucket").as("n_bucket"))
      val scored = c.join(broadcast(q),
          col("n_bucket") === col("q_bucket") && col("n_id") =!= col("q_id"))
        .withColumn("cos_raw", cosine(col("q_emb"), col("n_emb")))
      val w = Window.partitionBy("q_id").orderBy(desc("cos_raw"), asc("n_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("n_id"),
          round(col("cos_raw"), 6).as("cosine"),
          col("rk").cast("long").as("rk"))
        .orderBy("q_id", "rk")
    },
    """WITH d AS (
      |  SELECT vec_id, embedding,
      |    (SELECT sum(CASE WHEN list_sum(list_transform(embedding, (x,i) ->
      |       CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
      |       * (((((i-1) * 31 + p * 17 + (i-1) * p * 13) % 97) % 7) - 3))) > 0
      |     THEN 1 << p ELSE 0 END)
      |     FROM generate_series(0, 3) t(p)) AS bucket
      |  FROM embeddings),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket AS qb
      |      FROM d WHERE vec_id < 10),
      |c AS (SELECT q_id, d.vec_id AS n_id,
      |        list_sum(list_transform(q_emb,
      |          (x,i) -> CAST(x AS DOUBLE) * CAST(d.embedding[i] AS DOUBLE))) /
      |        (sqrt(list_sum(list_transform(q_emb,
      |           x -> CAST(x AS DOUBLE) * x))) *
      |         sqrt(list_sum(list_transform(d.embedding,
      |           x -> CAST(x AS DOUBLE) * x)))) AS cos_raw
      |      FROM d JOIN q ON d.bucket = q.qb AND d.vec_id <> q.q_id)
      |SELECT q_id, n_id, round(cos_raw, 6) AS cosine,
      |       row_number() OVER (PARTITION BY q_id
      |         ORDER BY cos_raw DESC, n_id) AS rk
      |FROM c QUALIFY rk <= 5 ORDER BY q_id, rk""")

  /** The FIXED-codebook IVF assignment (codebook = first 8 vectors,
    * cosine-argmax cell) — q59's index, reused by q87's recall compare. */
  private def fixedAssignment(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val codebook = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("c_id"),
        col("embedding").as("c_emb"))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(desc("ccos"), asc("c_id"))
    e.crossJoin(broadcast(codebook))
      .withColumn("ccos", cosine(col("embedding"), col("c_emb")))
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("embedding"), col("c_id").as("cell"))
  }

  /** IVF-style ANN — the codebook-partitioned scale path: every vector is
    * assigned to its nearest of k coarse centroids (one broadcast of the
    * k-row codebook, N·k scoring, linear); queries then probe ONLY their
    * own cell via an equi-join on the centroid id. With real k-means
    * centroids this is textbook IVF-Flat; here the codebook is the first
    * 8 vectors (deterministic), which keeps the whole operator — argmax
    * assignment included — exactly oracle-checkable in DuckDB since the
    * cosine form and tiebreakers are the proven q34 ones. At 100 TB the
    * assignment is a map-side broadcast join and the probe shuffles on
    * cell id, so no stage touches the N² pair space. */
  private val q59KnnIvf = QueryDef(
    (s, dir) => {
      val assigned = fixedAssignment(s, dir)
      val q = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("cell"))
      val cand = assigned.select(col("vec_id").as("n_id"),
        col("embedding").as("n_emb"), col("cell").as("n_cell"))
      val wTop = Window.partitionBy("q_id").orderBy(desc("cos_raw"), asc("n_id"))
      cand.join(broadcast(q),
          col("n_cell") === col("cell") && col("n_id") =!= col("q_id"))
        .withColumn("cos_raw", cosine(col("q_emb"), col("n_emb")))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("n_id"),
          round(col("cos_raw"), 6).as("cosine"),
          col("rk").cast("long").as("rk"))
        .orderBy("q_id", "rk")
    },
    """WITH cb AS (SELECT CAST(vec_id AS INTEGER) AS c_id,
      |                   embedding AS c_emb
      |            FROM embeddings WHERE vec_id < 8),
      |sc AS (SELECT e.vec_id, e.embedding, c_id,
      |         list_sum(list_transform(e.embedding,
      |           (x,i) -> CAST(x AS DOUBLE) * CAST(c_emb[i] AS DOUBLE))) /
      |         (sqrt(list_sum(list_transform(e.embedding,
      |            x -> CAST(x AS DOUBLE) * x))) *
      |          sqrt(list_sum(list_transform(c_emb,
      |            x -> CAST(x AS DOUBLE) * x)))) AS ccos
      |       FROM embeddings e, cb),
      |a AS (SELECT vec_id, embedding, c_id AS cell,
      |        row_number() OVER (PARTITION BY vec_id
      |          ORDER BY ccos DESC, c_id) AS arn
      |      FROM sc QUALIFY arn = 1),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb, cell
      |      FROM a WHERE vec_id < 10),
      |p AS (SELECT q_id, a.vec_id AS n_id,
      |        list_sum(list_transform(q_emb,
      |          (x,i) -> CAST(x AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))) /
      |        (sqrt(list_sum(list_transform(q_emb,
      |           x -> CAST(x AS DOUBLE) * x))) *
      |         sqrt(list_sum(list_transform(a.embedding,
      |           x -> CAST(x AS DOUBLE) * x)))) AS cos_raw
      |      FROM a JOIN q ON a.cell = q.cell AND a.vec_id <> q.q_id)
      |SELECT q_id, n_id, round(cos_raw, 6) AS cosine,
      |       row_number() OVER (PARTITION BY q_id
      |         ORDER BY cos_raw DESC, n_id) AS rk
      |FROM p QUALIFY rk <= 5 ORDER BY q_id, rk""")

  /** ANN recall instrumentation — the tuning loop a real vector pipeline
    * runs before trusting an approximate index: IVF top-5 (q59's
    * operator, nprobe parameterized) is joined against the EXACT top-5
    * ground truth (q34's operator, free since both are deterministic) and
    * recall@5 is emitted per query for nprobe=1 and nprobe=2, plus the
    * corpus mean. nprobe=2 probes each query's two nearest coarse cells —
    * candidate cost doubles, recall can only rise (an exact-top-5 member
    * reachable at nprobe=1 is never displaced by widening: at most 4
    * vectors outrank it anywhere). SimilaritySpec asserts the
    * monotonicity; the mean recall is computed from INTEGER hit totals
    * (sum(hits)/(5·n_queries), one final division) so float summation
    * order can't diverge between engines. */
  private val q70AnnRecall = QueryDef(
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val codebook = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("c_id"),
          col("embedding").as("c_emb"))
      val wAssign = Window.partitionBy("vec_id")
        .orderBy(desc("ccos"), asc("c_id"))
      val ranked = e.crossJoin(broadcast(codebook))
        .withColumn("ccos", cosine(col("embedding"), col("c_emb")))
        .withColumn("arn", row_number().over(wAssign))
      val cand = ranked.filter(col("arn") === 1)
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
          col("c_id").as("n_cell"))
      // each query's nprobe nearest cells (rank from the same assignment)
      val probes = ranked.filter(col("vec_id") < 10 && col("arn") <= 2)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("c_id").as("p_cell"), col("arn").as("p_rank"))
      def ivfTop5(np: Int): org.apache.spark.sql.DataFrame = {
        val w = Window.partitionBy("q_id").orderBy(desc("cos_raw"), asc("n_id"))
        cand.join(broadcast(probes.filter(col("p_rank") <= np)),
            col("n_cell") === col("p_cell") && col("n_id") =!= col("q_id"))
          .withColumn("cos_raw", cosine(col("q_emb"), col("n_emb")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("q_id"), col("n_id"))
      }
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val wExact = Window.partitionBy("q_id").orderBy(desc("cos_raw"), asc("n_id"))
      val exact = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
        .join(broadcast(q), col("n_id") =!= col("q_id"))
        .withColumn("cos_raw", cosine(col("q_emb"), col("n_emb")))
        .withColumn("rk", row_number().over(wExact))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("n_id"))
      def hits(np: Int, as: String): org.apache.spark.sql.DataFrame =
        exact.join(ivfTop5(np), Seq("q_id", "n_id"), "left_semi")
          .groupBy("q_id").agg(count(lit(1)).as(as))
      val perQ = q.select(col("q_id"))
        .join(hits(1, "h1"), Seq("q_id"), "left")
        .join(hits(2, "h2"), Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("h1"), lit(0L)).as("hits1"),
          coalesce(col("h2"), lit(0L)).as("hits2"))
      val mean = perQ.agg(
        (sum("hits1").cast("double") / (count(lit(1)) * 5))
          .as("mean_recall1"),
        (sum("hits2").cast("double") / (count(lit(1)) * 5))
          .as("mean_recall2"))
      perQ.crossJoin(broadcast(mean))
        .select(col("q_id"), col("hits1"), col("hits2"),
          (col("hits1") / lit(5.0)).as("recall1"),
          (col("hits2") / lit(5.0)).as("recall2"),
          col("mean_recall1"), col("mean_recall2"))
        .orderBy("q_id")
    },
    """WITH cb AS (SELECT CAST(vec_id AS INTEGER) AS c_id,
      |                   embedding AS c_emb
      |            FROM embeddings WHERE vec_id < 8),
      |r AS (SELECT e.vec_id, e.embedding, c_id,
      |        row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |          list_sum(list_transform(e.embedding,
      |            (x,i) -> CAST(x AS DOUBLE) * CAST(c_emb[i] AS DOUBLE))) /
      |          (sqrt(list_sum(list_transform(e.embedding,
      |             x -> CAST(x AS DOUBLE) * x))) *
      |           sqrt(list_sum(list_transform(c_emb,
      |             x -> CAST(x AS DOUBLE) * x)))) DESC, c_id) AS arn
      |      FROM embeddings e, cb),
      |a AS (SELECT vec_id AS n_id, embedding AS n_emb, c_id AS n_cell
      |      FROM r WHERE arn = 1),
      |pr AS (SELECT vec_id AS q_id, embedding AS q_emb, c_id AS p_cell,
      |              arn AS p_rank
      |       FROM r WHERE vec_id < 10 AND arn <= 2),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb
      |      FROM embeddings WHERE vec_id < 10),
      |ex AS (SELECT q_id, n_id FROM (
      |        SELECT q_id, e.vec_id AS n_id,
      |          row_number() OVER (PARTITION BY q_id ORDER BY
      |            list_sum(list_transform(q_emb,
      |              (x,i) -> CAST(x AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
      |            (sqrt(list_sum(list_transform(q_emb,
      |               x -> CAST(x AS DOUBLE) * x))) *
      |             sqrt(list_sum(list_transform(e.embedding,
      |               x -> CAST(x AS DOUBLE) * x)))) DESC, e.vec_id) AS rk
      |        FROM embeddings e, q WHERE e.vec_id <> q_id)
      |       WHERE rk <= 5),
      |iv1 AS (SELECT q_id, n_id FROM (
      |        SELECT q_id, a.n_id,
      |          row_number() OVER (PARTITION BY q_id ORDER BY
      |            list_sum(list_transform(q_emb,
      |              (x,i) -> CAST(x AS DOUBLE) * CAST(a.n_emb[i] AS DOUBLE))) /
      |            (sqrt(list_sum(list_transform(q_emb,
      |               x -> CAST(x AS DOUBLE) * x))) *
      |             sqrt(list_sum(list_transform(a.n_emb,
      |               x -> CAST(x AS DOUBLE) * x)))) DESC, a.n_id) AS rk
      |        FROM a JOIN pr p ON a.n_cell = p.p_cell AND a.n_id <> p.q_id
      |        WHERE p.p_rank <= 1)
      |       WHERE rk <= 5),
      |iv2 AS (SELECT q_id, n_id FROM (
      |        SELECT q_id, a.n_id,
      |          row_number() OVER (PARTITION BY q_id ORDER BY
      |            list_sum(list_transform(q_emb,
      |              (x,i) -> CAST(x AS DOUBLE) * CAST(a.n_emb[i] AS DOUBLE))) /
      |            (sqrt(list_sum(list_transform(q_emb,
      |               x -> CAST(x AS DOUBLE) * x))) *
      |             sqrt(list_sum(list_transform(a.n_emb,
      |               x -> CAST(x AS DOUBLE) * x)))) DESC, a.n_id) AS rk
      |        FROM a JOIN pr p ON a.n_cell = p.p_cell AND a.n_id <> p.q_id
      |        WHERE p.p_rank <= 2)
      |       WHERE rk <= 5),
      |h1 AS (SELECT ex.q_id, CAST(count(*) AS BIGINT) AS h1
      |       FROM ex JOIN iv1 USING (q_id, n_id) GROUP BY ex.q_id),
      |h2 AS (SELECT ex.q_id, CAST(count(*) AS BIGINT) AS h2
      |       FROM ex JOIN iv2 USING (q_id, n_id) GROUP BY ex.q_id),
      |perq AS (SELECT q.q_id, coalesce(h1, 0) AS hits1, coalesce(h2, 0) AS hits2
      |         FROM q LEFT JOIN h1 ON q.q_id = h1.q_id
      |                LEFT JOIN h2 ON q.q_id = h2.q_id),
      |m AS (SELECT CAST(sum(hits1) AS DOUBLE) / (count(*) * 5) AS mean_recall1,
      |             CAST(sum(hits2) AS DOUBLE) / (count(*) * 5) AS mean_recall2
      |      FROM perq)
      |SELECT q_id, hits1, hits2,
      |       hits1 / 5.0e0 AS recall1, hits2 / 5.0e0 AS recall2,
      |       mean_recall1, mean_recall2
      |FROM perq, m ORDER BY q_id""")

  /** Multi-probe hyperplane-LSH ANN — the recall lever for the LSH index
    * family, sibling to q70's nprobe lever for IVF: each query probes its
    * HOME sign-bucket plus every bucket at Hamming distance 1 (one
    * hyperplane's sign flipped — the planes+1 most likely buckets for a
    * near neighbor to land in), so candidate cost is (planes+1)/2^planes
    * of the corpus instead of 1/2^planes, and boundary-crossing neighbors
    * stop being missed. Buckets come from the integer-exact codegen
    * `hyperplane_bucket` (q55's discipline, and since round 8 q35's
    * too), so the whole operator, probe set included, is
    * oracle-exact in DuckDB via BIGINT xor. The probe set is tiny
    * (10 queries × planes+1 buckets) and broadcasts; candidates arrive
    * through a bucket equi-join, never a cross product. */
  private val q74KnnMultiprobe = QueryDef(
    (s, dir) => {
      val e0 = Tables(s, dir, "embeddings")
      val planes = graft.ext.Dedup.lshPlanes(
        Tables.rowCount(s, dir, "embeddings"))
      val e = e0.select(col("vec_id"), col("embedding"),
        graft.functions.HyperplaneBucket.bucket(col("embedding"), planes)
          .as("bucket"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("bucket").as("qb"))
      // home bucket + one-bit flips = the Hamming-1 probe ball
      val probeCols = col("qb") +: (0 until planes).map(p =>
        col("qb").bitwiseXOR(lit(1 << p)))
      val probes = q.select(col("q_id"), col("q_emb"),
        explode(array(probeCols: _*)).as("pb"))
      val cand = e.select(col("vec_id").as("n_id"),
        col("embedding").as("n_emb"), col("bucket").as("n_bucket"))
      val w = Window.partitionBy("q_id").orderBy(desc("cos_raw"), asc("n_id"))
      cand.join(broadcast(probes),
          col("n_bucket") === col("pb") && col("n_id") =!= col("q_id"))
        .withColumn("cos_raw", cosine(col("q_emb"), col("n_emb")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("n_id"),
          round(col("cos_raw"), 6).as("cosine"),
          col("rk").cast("long").as("rk"))
        .orderBy("q_id", "rk")
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
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket AS qb
      |      FROM d WHERE vec_id < 10),
      |pb AS (SELECT q_id, q_emb,
      |         CASE WHEN p = -1 THEN qb ELSE xor(qb, 1 << p) END AS pb
      |       FROM q, generate_series(-1, 62) t(p), np WHERE p < planes),
      |c AS (SELECT q_id, d.vec_id AS n_id,
      |        list_sum(list_transform(q_emb,
      |          (x,i) -> CAST(x AS DOUBLE) * CAST(d.embedding[i] AS DOUBLE))) /
      |        (sqrt(list_sum(list_transform(q_emb,
      |           x -> CAST(x AS DOUBLE) * x))) *
      |         sqrt(list_sum(list_transform(d.embedding,
      |           x -> CAST(x AS DOUBLE) * x)))) AS cos_raw
      |      FROM d JOIN pb ON d.bucket = pb.pb AND d.vec_id <> pb.q_id)
      |SELECT q_id, n_id, round(cos_raw, 6) AS cosine,
      |       CAST(rk AS BIGINT) AS rk
      |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
      |        ORDER BY cos_raw DESC, n_id) AS rk FROM c)
      |WHERE rk <= 5 ORDER BY q_id, rk""")

  /** Per-vector int8 quantization — the storage/bandwidth op for serving
    * embeddings at scale (4× smaller than f32, enough for recall-oriented
    * ANN): min-max affine scale to 0..255 plus the per-vector scale and
    * zero-point needed to dequantize. Pure per-row expression work, no
    * shuffle at all; both engines compute the identical IEEE-double
    * affine map, so the integer codes are oracle-exact. */
  private val q62Quantize = QueryDef(
    (s, dir) => {
      val e = Tables.spread(s, Tables(s, dir, "embeddings"))
      val mn = array_min(col("embedding")).cast("double")
      val mx = array_max(col("embedding")).cast("double")
      val scale = (mx - mn) / 255.0
      // exploded scalar rows (vec_id, dim, qcode) rather than a list
      // column: every code is individually oracle-checked and the output
      // schema stays arrow-plain for the driver compare. A constant vector
      // makes scale 0 and the engines' x/0 semantics diverge (Spark NULL
      // vs DuckDB IEEE), so the affine map is guarded to qcode=0.
      e.select(col("vec_id"),
          posexplode(transform(col("embedding"), x =>
            when(mx === mn, lit(0))
              .otherwise(round((x.cast("double") - mn) / scale, 0))
              .cast("int")))
            .as(Seq("dim", "qcode")),
          mn.as("zero_point"), scale.as("scale"))
        .orderBy("vec_id", "dim")
    },
    """SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
      |  CASE WHEN list_max(embedding) = list_min(embedding) THEN 0
      |  ELSE CAST(round(
      |    (CAST(embedding[i] AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) /
      |    ((CAST(list_max(embedding) AS DOUBLE) -
      |      CAST(list_min(embedding) AS DOUBLE)) / 255.0)) AS INTEGER) END
      |    AS qcode,
      |  CAST(list_min(embedding) AS DOUBLE) AS zero_point,
      |  (CAST(list_max(embedding) AS DOUBLE) -
      |   CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale
      |FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)
      |ORDER BY vec_id, dim""")

  /** Shared-scale symmetric int8 codes for the SQ8 serve (q108/q109):
    * one corpus-wide max|x| pre-pass (a single collected scalar — the
    * same bounded-driver-state discipline as the Lloyd codebooks) fixes
    * the affine map code = round(x·127/max|x|), so the integer dot of
    * two code vectors is monotone in the quantized inner product.
    * q62's PER-VECTOR affine codes compress better but cannot serve
    * this way: with per-vector scales the code dot mixes units and the
    * correction terms reintroduce variable-length float sums. */
  private def sq8Codes(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.spread(s, Tables(s, dir, "embeddings"))
    val maxabs = e.select(max(expr(
      "array_max(transform(embedding, x -> abs(cast(x as double))))")))
      .first().getDouble(0)
    e.select(col("vec_id"), expr(
      s"transform(embedding, x -> cast(round(" +
        s"cast(x as double) * 127 / $maxabs, 0) as bigint))").as("c"))
  }

  /** The q108 serve core — SQ8 top-5 by BIGINT code dot, shared with
    * q109's acceptance row. */
  private def sq8Top5(s: SparkSession, dir: String): DataFrame = {
    val cd = sq8Codes(s, dir)
    val q = cd.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("c").as("qc"))
    val scored = cd.select(col("vec_id").as("n_id"), col("c").as("nc"))
      .join(broadcast(q), col("n_id") =!= col("q_id"))
      // native codegen kernel: the corpus-wide code scan must not pay
      // interpreted HOF lambda frames (LongVecSpec pins bit-equality
      // with the declarative aggregate(zip_with(...)) form)
      .withColumn("qdot",
        graft.functions.LongVec.dot(col("qc"), col("nc")))
    val w = Window.partitionBy("q_id").orderBy(desc("qdot"), asc("n_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
  }

  /** The SQ8 code table as oracle CTEs (shared by q108/q109/q113). */
  private val sq8CodeCtes =
    """ma AS (SELECT max(list_max(list_transform(embedding,
      |          x -> abs(CAST(x AS DOUBLE))))) AS maxabs
      |        FROM embeddings),
      |cd AS (SELECT vec_id, list_transform(embedding,
      |         x -> CAST(round(CAST(x AS DOUBLE) * 127 / maxabs, 0)
      |           AS BIGINT)) AS c
      |       FROM embeddings, ma)""".stripMargin

  /** The SQ8 serve's oracle CTEs: shared-scale codes + code-dot top-5
    * (shared by q108/q109). */
  private val sq8Ctes =
    s"""$sq8CodeCtes,
      |qs AS (SELECT vec_id AS q_id, c AS qc FROM cd WHERE vec_id < 10),
      |sq AS (SELECT q_id, n_id, qdot, rk FROM (
      |         SELECT q_id, vec_id AS n_id,
      |           list_sum(list_transform(qc, (x,i) -> x * c[i])) AS qdot,
      |           row_number() OVER (PARTITION BY q_id ORDER BY
      |             list_sum(list_transform(qc, (x,i) -> x * c[i])) DESC,
      |             vec_id) AS rk
      |         FROM cd, qs WHERE vec_id <> q_id)
      |       WHERE rk <= 5)""".stripMargin

  /** SQ8 (scalar-quantization) ANN serve — the third compression family
    * next to the grid (q81/q93, 64-bit lanes) and PQ (q89/q90, 8-bit
    * codes per 2-dim subspace): every vector stores 64 int8 codes on ONE
    * shared symmetric scale, and the serve ranks by the BIGINT dot of
    * the code vectors — max-inner-product search over 8×-compressed
    * codes, no codebook at all. This is FAISS's `SQ8` flat index: better
    * recall than PQ at the same 8 bits/dim (no subspace structure
    * assumed), but no sublinear candidate pruning — the natural
    * RE-RANKING tier: IVF-PQ prunes, SQ8 refines, exact floats only
    * ever touch a top-20 shortlist (q113 runs that full ladder).
    *
    * Scale shape: one max|x| pre-pass (collected scalar, broadcast back
    * as a literal); the serve scans only the code column (8× smaller
    * I/O than f32 vectors), queries broadcast, the integer dot fuses
    * into codegen — no shuffle at all until the per-query top-5 window,
    * which TakeOrderedAndProject-sizes to queries×5. */
  private val q108Sq8Serve = QueryDef(
    (s, dir) =>
      sq8Top5(s, dir)
        .select(col("q_id"), col("n_id"), col("qdot"),
          col("rk").cast("long").as("rk"))
        .orderBy("q_id", "rk"),
    s"""WITH $sq8Ctes
      |SELECT q_id, n_id, CAST(qdot AS BIGINT) AS qdot,
      |       CAST(rk AS BIGINT) AS rk
      |FROM sq ORDER BY q_id, rk""".stripMargin)

  /** SQ8 acceptance row — q94's discipline for the SQ8 family: the
    * serve's top-5 against the exact integer-grid inner-product top-5
    * (round(x·1000) longs — the engine's established exact ground
    * truth), one BIGINT-exact row. Measures what 8 bits on a shared
    * scale cost vs the 11-bit grid BEFORE swapping SQ8 into a serving
    * tier; the left-join rollup keeps the comparison a single
    * aggregation (no scalar cross-joins anywhere near a plan guard). */
  private val q109Sq8Acceptance = QueryDef(
    (s, dir) => {
      val g = gridFrame(s, Tables(s, dir, "embeddings"))
      val gq = g.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qa").as("qqa"))
      val w = Window.partitionBy("q_id").orderBy(desc("gdot"), asc("n_id"))
      val truth = g.select(col("vec_id").as("n_id"), col("qa").as("na"))
        .join(broadcast(gq), col("n_id") =!= col("q_id"))
        .withColumn("gdot",
          graft.functions.LongVec.dot(col("qqa"), col("na")))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select("q_id", "n_id")
      val sq8 = sq8Top5(s, dir)
        .select(col("q_id"), col("n_id"), lit(true).as("hit"))
      truth.join(sq8, Seq("q_id", "n_id"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("hits_sq8"))
        .withColumn("recall_sq8", floor(
          col("hits_sq8").cast("double") / col("n_truth") * lit(1e6))
          / lit(1e6))
    },
    s"""WITH $sq8Ctes,
      |g AS (SELECT vec_id, list_transform(embedding,
      |        x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))
      |          AS qa
      |      FROM embeddings),
      |gq AS (SELECT vec_id AS q_id, qa AS qqa FROM g WHERE vec_id < 10),
      |tr AS (SELECT q_id, n_id FROM (
      |         SELECT q_id, g.vec_id AS n_id,
      |           row_number() OVER (PARTITION BY q_id ORDER BY
      |             list_sum(list_transform(qqa, (x,i) -> x * qa[i])) DESC,
      |             g.vec_id) AS rk
      |         FROM g, gq WHERE g.vec_id <> q_id)
      |       WHERE rk <= 5)
      |SELECT CAST(count(*) AS BIGINT) AS n_truth,
      |       CAST(sum(CASE WHEN s.n_id IS NOT NULL THEN 1 ELSE 0 END)
      |         AS BIGINT) AS hits_sq8,
      |       floor(CAST(sum(CASE WHEN s.n_id IS NOT NULL THEN 1 ELSE 0
      |         END) AS DOUBLE) / count(*) * 1000000) / 1000000
      |         AS recall_sq8
      |FROM tr LEFT JOIN sq s ON tr.q_id = s.q_id AND tr.n_id = s.n_id"""
      .stripMargin)

  /** The trained (vec_id, cell, d2) assignment after two Lloyd rounds —
    * shared by q81 (the training verdict table) and q82 (the trained-IVF
    * probe). See q81's Scaladoc for the integer-exact discipline. */
  private[ext] def trainedAssignment(s: SparkSession, dir: String): DataFrame =
    trainedModel(s, dir)._1

  /** The float→integer-grid transform (round(x·1000) longs) every
    * trained operator quantizes through — kept as one SQL string so the
    * grid definition cannot drift between the corpus-side [[gridFrame]]
    * and query-side callers (IvfPqIndex.search grids its query frame
    * inline, without the corpus spread/checkpoint). */
  private[ext] val gridSql =
    "transform(embedding, x -> cast(round(cast(x as double) * 1000, 0) as bigint))"

  /** The (vec_id, qa) grid projection of a (vec_id, embedding)
    * relation: round(x·1000) longs, with no spread or checkpoint (over
    * a local batch it folds on the driver; IvfPqIndex.add). */
  private[ext] def gridProjection(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), expr(gridSql).as("qa"))

  /** The checkpointed [[gridProjection]] of a (vec_id, embedding)
    * relation, spread across the cluster and materialized once — seed,
    * every update round and the final assignment all read this 2-column
    * frame instead of re-scanning + re-transforming the parquet per
    * round. */
  private[ext] def gridFrame(s: SparkSession, vecs: DataFrame): DataFrame =
    gridProjection(vecs)
      .repartition(s.sparkContext.defaultParallelism)
      .localCheckpoint(true)

  // SQL text because aliases inside lambda bodies are stripped by the
  // analyzer — named_struct is the only way to keep the field names
  private val bestSql =
    """array_min(transform(__cents, c -> named_struct(
      |  'd2', aggregate(zip_with(qa, c._2, (a, b) -> (a - b) * (a - b)),
      |        cast(0 as bigint), (acc, x) -> acc + x),
      |  'cell', c._1)))""".stripMargin

  /** `eg` plus a `best` struct(d2, cell): the per-row argmin against a
    * literal-planted coarse codebook. Tie-break: struct(d2, cell)
    * natural (lexicographic) MIN = smallest d2 then smallest cell, the
    * oracle's ORDER BY. */
  private[ext] def coarseWithBest(eg: DataFrame,
      cents: Seq[(Int, Seq[Long])]): DataFrame =
    eg.withColumn("__cents", typedLit(cents))
      .withColumn("best", expr(bestSql)).drop("__cents")

  /** Two coarse Lloyd rounds from an explicit seed codebook — the loop
    * in its canonical Spark shape (the one MLlib KMeans uses): the k·d
    * centroid table is BOUNDED driver state (8×64 grid longs here), so
    * each round collects it and re-plants it as a LITERAL in the
    * per-row argmin — assignment costs zero joins/windows, and the
    * update is ONE map-side-combinable (cell, dim) shuffle per round.
    * All arithmetic is the same integer grid / BIGINT d2 / floordiv
    * round-half-up as the oracle — relocating it per-row cannot change
    * a bit. One exact grid round-half-up per update:
    * c' = floordiv(2s+n, 2n) over member sums; empty cells drop out
    * (no member rows), matching the oracle's group-by. */
  private[ext] def coarseLloyd(eg: DataFrame,
      seed: Seq[(Int, Seq[Long])]): Seq[(Int, Seq[Long])] = {
    def updateRound(cents: Seq[(Int, Seq[Long])]): Seq[(Int, Seq[Long])] =
      coarseWithBest(eg, cents)
        .select(col("best.cell").as("cell"),
          posexplode(col("qa")).as(Seq("dim", "q")))
        .groupBy("cell", "dim")
        .agg(sum("q").as("s"), count(lit(1)).as("n"))
        .select(col("cell"), col("dim"),
          expr("""(2*s + n - pmod(2*s + n, 2*n)) div (2*n)""").as("c"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
        .toSeq.sortBy(_._1)
    updateRound(updateRound(seed))
  }

  /** The full trained coarse model: the (vec_id, cell, d2) assignment
    * frame, the trained centroid table (bounded k·d driver state, for
    * residual computation in q93's IVF-PQ), and the checkpointed
    * (vec_id, qa) grid frame the training ran over. Seed = the first 8
    * vectors, cell id = vec_id (the q81 oracle's c0). */
  private def trainedModel(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, Seq[Long])], DataFrame) = {
    val eg = gridFrame(s, Tables(s, dir, "embeddings"))
    val seed = eg.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("qa"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toSeq)
      .toSeq.sortBy(_._1)
    val trained = coarseLloyd(eg, seed)
    val assign = coarseWithBest(eg, trained)
      .select(col("vec_id"), col("best.cell").as("cell"),
        col("best.d2").as("d2"))
    (assign, trained, eg)
  }

  /** The q81 oracle's training rounds as shared CTE text (pts → final
    * assignment `af`), reused verbatim by q82's oracle. */
  private[ext] val trainedAssignmentSql =
    """pts AS (
      |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
      |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
      |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)),
      |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, dim, q AS c
      |       FROM pts WHERE vec_id < 8),
      |d1 AS (SELECT p.vec_id, c.cell,
      |         CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2
      |       FROM pts p JOIN c0 c ON p.dim = c.dim
      |       GROUP BY 1, 2),
      |a1 AS (SELECT vec_id, cell FROM (
      |        SELECT vec_id, cell,
      |          row_number() OVER (PARTITION BY vec_id
      |            ORDER BY d2, cell) AS rn
      |        FROM d1) WHERE rn = 1),
      |c1 AS (SELECT cell, dim,
      |         (2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n))) // (2*n)
      |           AS c
      |       FROM (SELECT a.cell, p.dim, CAST(sum(p.q) AS BIGINT) AS s,
      |               CAST(count(*) AS BIGINT) AS n
      |             FROM pts p JOIN a1 a ON p.vec_id = a.vec_id
      |             GROUP BY 1, 2)),
      |d2r AS (SELECT p.vec_id, c.cell,
      |          CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2
      |        FROM pts p JOIN c1 c ON p.dim = c.dim
      |        GROUP BY 1, 2),
      |a2 AS (SELECT vec_id, cell FROM (
      |        SELECT vec_id, cell,
      |          row_number() OVER (PARTITION BY vec_id
      |            ORDER BY d2, cell) AS rn
      |        FROM d2r) WHERE rn = 1),
      |c2 AS (SELECT cell, dim,
      |         (2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n))) // (2*n)
      |           AS c
      |       FROM (SELECT a.cell, p.dim, CAST(sum(p.q) AS BIGINT) AS s,
      |               CAST(count(*) AS BIGINT) AS n
      |             FROM pts p JOIN a2 a ON p.vec_id = a.vec_id
      |             GROUP BY 1, 2)),
      |df AS (SELECT p.vec_id, c.cell,
      |         CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2
      |       FROM pts p JOIN c2 c ON p.dim = c.dim
      |       GROUP BY 1, 2),
      |af AS (SELECT vec_id, cell, d2 FROM (
      |        SELECT vec_id, cell, d2,
      |          row_number() OVER (PARTITION BY vec_id
      |            ORDER BY d2, cell) AS rn
      |        FROM df) WHERE rn = 1)""".stripMargin

  /** k-means codebook TRAINING — the piece q59's IVF deliberately faked
    * (its codebook is the first 8 vectors): two Lloyd iterations that
    * both engines compute BIT-IDENTICALLY, so even an iterative
    * float-native algorithm stays inside the oracle gate. The trick is
    * the same integer discipline as the LSH buckets:
    *
    *  - points live on the round(x·1000) integer grid (exact f32→f64
    *    widening + one half-away-from-zero round in both engines);
    *  - assignment is argmin of SQUARED L2 distance — pure BIGINT
    *    sums of squares, no sqrt, no float, ties broken by cell id;
    *  - the centroid update c' = mean(members) is rounded back to the
    *    grid with round-half-up computed EXACTLY in integers:
    *    c' = floordiv(2·s + n, 2·n) (s = member sum, n = count) — no
    *    division ever happens in floating point.
    *
    * Output is the trained assignment: (vec_id, cell, d2, cell_size) —
    * d2 the integer distortion each pipeline monitors (inertia), sizes
    * the cell-balance signal that decides nprobe.
    *
    * Scale shape: points are (vec_id, dim, q) rows; each round is one
    * broadcast join against the ≤ k·dims centroid table, one
    * (vec_id, cell) partial-agg shuffle, one vec_id window, one
    * (cell, dim) partial-agg shuffle — all map-side combinable, nothing
    * ∝ N² anywhere. Two rounds unrolled keep lineage flat (a long
    * k-means would localCheckpoint per round, q67's discipline). */
  private val q81KmeansCodebook = QueryDef(
    (s, dir) => {
      val wn = Window.partitionBy("cell")
      trainedAssignment(s, dir)
        .withColumn("cell_size", count(lit(1)).over(wn).cast("long"))
        .orderBy("vec_id")
    },
    s"""WITH $trainedAssignmentSql
      |SELECT vec_id, cell, d2,
      |       CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS cell_size
      |FROM af ORDER BY vec_id""")

  /** Trained IVF, end-to-end — the composition q59's Scaladoc promised:
    * q81's two-round k-means codebook replaces the fixed first-8-vectors
    * codebook, and queries probe their own TRAINED cell with the proven
    * cosine + tiebreak discipline. Train → index → serve as one
    * declarative query, every stage still oracle-exact (the integer-grid
    * training composes with the float-exact cosine because the cell id
    * is the only thing that crosses between them).
    *
    * Scale shape: training is q81's (broadcast centroid joins +
    * partial-agg shuffles); serving is q59's (probe equi-join on cell,
    * broadcast query set) — nothing N². */
  private val q82KnnIvfTrained = QueryDef(
    (s, dir) => {
      val assigned = trainedAssignment(s, dir)
        .join(Tables(s, dir, "embeddings"), Seq("vec_id"))
        .select(col("vec_id"), col("embedding"), col("cell"))
      val q = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("cell"))
      val cand = assigned.select(col("vec_id").as("n_id"),
        col("embedding").as("n_emb"), col("cell").as("n_cell"))
      val wTop = Window.partitionBy("q_id").orderBy(desc("cos_raw"), asc("n_id"))
      cand.join(broadcast(q),
          col("n_cell") === col("cell") && col("n_id") =!= col("q_id"))
        .withColumn("cos_raw", cosine(col("q_emb"), col("n_emb")))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("n_id"),
          round(col("cos_raw"), 6).as("cosine"),
          col("rk").cast("long").as("rk"))
        .orderBy("q_id", "rk")
    },
    s"""WITH $trainedAssignmentSql,
      |av AS (SELECT e.vec_id, e.embedding, af.cell
      |       FROM embeddings e JOIN af ON e.vec_id = af.vec_id),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb, cell
      |      FROM av WHERE vec_id < 10),
      |p AS (SELECT q_id, av.vec_id AS n_id,
      |        list_sum(list_transform(q_emb,
      |          (x,i) -> CAST(x AS DOUBLE) * CAST(av.embedding[i] AS DOUBLE))) /
      |        (sqrt(list_sum(list_transform(q_emb,
      |           x -> CAST(x AS DOUBLE) * x))) *
      |         sqrt(list_sum(list_transform(av.embedding,
      |           x -> CAST(x AS DOUBLE) * x)))) AS cos_raw
      |      FROM av JOIN q ON av.cell = q.cell AND av.vec_id <> q.q_id)
      |SELECT q_id, n_id, round(cos_raw, 6) AS cosine,
      |       row_number() OVER (PARTITION BY q_id
      |         ORDER BY cos_raw DESC, n_id) AS rk
      |FROM p QUALIFY rk <= 5 ORDER BY q_id, rk""")

  /** Trained-vs-fixed IVF RECALL + COST — the acceptance test a vector
    * pipeline runs before swapping codebooks (q70's instrumentation
    * discipline applied to q81/q82's training): the exact top-5 ground
    * truth (q34's operator) is compared against the nprobe=1 top-5 of
    * BOTH indexes — q59's fixed first-8-vectors codebook and q81's
    * two-round-trained codebook — alongside each index's CANDIDATE COST
    * (Σ per-query probed-cell size, the rows the serve path actually
    * scans), in one row: (n_queries, hits_fixed, hits_trained,
    * cand_fixed, cand_trained, recall_fixed, recall_trained). Hit and
    * cost totals are INTEGERS with one final division (q70's float
    * discipline), so the engines can't diverge on summation order.
    *
    * Recall alone would be the WRONG acceptance metric: a skewed
    * codebook with one giant cell scores high recall only because its
    * queries rescan most of the corpus. Reporting recall AND cost
    * together is what makes the verdict honest — and on these fixtures
    * the instrument's finding IS the value: the synthetic embeddings
    * carry no cluster structure, so two Lloyd rounds leave cell balance
    * and recall statistically unchanged (±3 hits of 50 at equal cost) —
    * exactly the evidence that stops a pointless codebook swap. q81's
    * distortion pin proves training optimizes its objective; this row
    * proves that objective doesn't transfer to recall on structureless
    * data. SimilaritySpec pins the equal-cost regime and a recall floor
    * for both indexes. */
  private val q87IvfTrainedRecall = QueryDef(
    (s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val wTop = Window.partitionBy("q_id").orderBy(desc("cos_raw"), asc("n_id"))
      val exact = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
        .join(broadcast(q), col("n_id") =!= col("q_id"))
        .withColumn("cos_raw", cosine(col("q_emb"), col("n_emb")))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("n_id"))
      // ONE tagged assignment frame instead of per-codebook branches: the
      // serve, hit and cost computations each run ONCE over (src ∈ {f,t})
      // with src in their keys, and the per-codebook totals fall out of a
      // conditional aggregate — the former shape evaluated two serves,
      // two costs and two hit counts as six separate one-row sub-DAGs
      val both = trainedAssignment(s, dir)
        .join(e, Seq("vec_id"))
        .select(col("vec_id"), col("embedding"), col("cell"))
        .withColumn("src", lit("t"))
        .unionByName(fixedAssignment(s, dir).withColumn("src", lit("f")))
        .localCheckpoint(true)
      val qb = both.filter(col("vec_id") < 10)
        .select(col("src").as("q_src"), col("vec_id").as("q_id"),
          col("embedding").as("q_emb"), col("cell"))
      val wTopS = Window.partitionBy("src", "q_id")
        .orderBy(desc("cos_raw"), asc("n_id"))
      val serve = both.select(col("src"), col("vec_id").as("n_id"),
          col("embedding").as("n_emb"), col("cell").as("n_cell"))
        .join(broadcast(qb), col("src") === col("q_src") &&
          col("n_cell") === col("cell") && col("n_id") =!= col("q_id"))
        .withColumn("cos_raw", cosine(col("q_emb"), col("n_emb")))
        .withColumn("rk", row_number().over(wTopS))
        .filter(col("rk") <= 5)
        .select(col("src"), col("q_id"), col("n_id"))
      val hits = serve.join(exact, Seq("q_id", "n_id"), "left_semi")
        .groupBy().agg(
          coalesce(sum(when(col("src") === "f", 1L).otherwise(0L)), lit(0L))
            .as("hits_fixed"),
          coalesce(sum(when(col("src") === "t", 1L).otherwise(0L)), lit(0L))
            .as("hits_trained"))
      // candidate cost = Σ over queries of (probed cell's size - 1):
      // the rows the nprobe=1 serve path actually scans
      val sz = both.groupBy("src", "cell").agg(count(lit(1)).as("__n"))
      val cost = both.filter(col("vec_id") < 10)
        .join(broadcast(sz), Seq("src", "cell"))
        .groupBy().agg(
          sum(when(col("src") === "f", col("__n") - 1).otherwise(0L))
            .as("cand_fixed"),
          sum(when(col("src") === "t", col("__n") - 1).otherwise(0L))
            .as("cand_trained"))
      val nQ = q.agg(count(lit(1)).as("n_queries"))
      // three one-row aggregates combine via broadcast nested-loop —
      // bounded by construction (PlanGuard-allowlisted)
      nQ.crossJoin(broadcast(hits)).crossJoin(broadcast(cost))
        .select(col("n_queries"), col("hits_fixed"), col("hits_trained"),
          col("cand_fixed"), col("cand_trained"),
          (col("hits_fixed").cast("double") / (col("n_queries") * 5))
            .as("recall_fixed"),
          (col("hits_trained").cast("double") / (col("n_queries") * 5))
            .as("recall_trained"))
    },
    s"""WITH $trainedAssignmentSql,
      |av AS (SELECT e.vec_id, e.embedding, af.cell
      |       FROM embeddings e JOIN af ON e.vec_id = af.vec_id),
      |cb AS (SELECT CAST(vec_id AS INTEGER) AS c_id, embedding AS c_emb
      |       FROM embeddings WHERE vec_id < 8),
      |fx AS (SELECT vec_id, embedding, cell FROM (
      |        SELECT e.vec_id, e.embedding, c_id AS cell,
      |          row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |            list_sum(list_transform(e.embedding,
      |              (x,i) -> CAST(x AS DOUBLE) * CAST(c_emb[i] AS DOUBLE))) /
      |            (sqrt(list_sum(list_transform(e.embedding,
      |               x -> CAST(x AS DOUBLE) * x))) *
      |             sqrt(list_sum(list_transform(c_emb,
      |               x -> CAST(x AS DOUBLE) * x)))) DESC, c_id) AS arn
      |        FROM embeddings e, cb) WHERE arn = 1),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb
      |      FROM embeddings WHERE vec_id < 10),
      |ex AS (SELECT q_id, n_id FROM (
      |        SELECT q_id, e.vec_id AS n_id,
      |          row_number() OVER (PARTITION BY q_id ORDER BY
      |            list_sum(list_transform(q_emb,
      |              (x,i) -> CAST(x AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
      |            (sqrt(list_sum(list_transform(q_emb,
      |               x -> CAST(x AS DOUBLE) * x))) *
      |             sqrt(list_sum(list_transform(e.embedding,
      |               x -> CAST(x AS DOUBLE) * x)))) DESC, e.vec_id) AS rk
      |        FROM embeddings e, q WHERE e.vec_id <> q_id) WHERE rk <= 5),
      |tf AS (SELECT q_id, n_id FROM (
      |        SELECT qv.vec_id AS q_id, a.vec_id AS n_id,
      |          row_number() OVER (PARTITION BY qv.vec_id ORDER BY
      |            list_sum(list_transform(qv.embedding,
      |              (x,i) -> CAST(x AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))) /
      |            (sqrt(list_sum(list_transform(qv.embedding,
      |               x -> CAST(x AS DOUBLE) * x))) *
      |             sqrt(list_sum(list_transform(a.embedding,
      |               x -> CAST(x AS DOUBLE) * x)))) DESC, a.vec_id) AS rk
      |        FROM fx a JOIN fx qv
      |          ON a.cell = qv.cell AND a.vec_id <> qv.vec_id
      |        WHERE qv.vec_id < 10) WHERE rk <= 5),
      |tt AS (SELECT q_id, n_id FROM (
      |        SELECT qv.vec_id AS q_id, a.vec_id AS n_id,
      |          row_number() OVER (PARTITION BY qv.vec_id ORDER BY
      |            list_sum(list_transform(qv.embedding,
      |              (x,i) -> CAST(x AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))) /
      |            (sqrt(list_sum(list_transform(qv.embedding,
      |               x -> CAST(x AS DOUBLE) * x))) *
      |             sqrt(list_sum(list_transform(a.embedding,
      |               x -> CAST(x AS DOUBLE) * x)))) DESC, a.vec_id) AS rk
      |        FROM av a JOIN av qv
      |          ON a.cell = qv.cell AND a.vec_id <> qv.vec_id
      |        WHERE qv.vec_id < 10) WHERE rk <= 5)
      |SELECT CAST((SELECT count(*) FROM q) AS BIGINT) AS n_queries,
      |       CAST((SELECT count(*) FROM ex JOIN tf USING (q_id, n_id))
      |         AS BIGINT) AS hits_fixed,
      |       CAST((SELECT count(*) FROM ex JOIN tt USING (q_id, n_id))
      |         AS BIGINT) AS hits_trained,
      |       CAST((SELECT sum(n - 1) FROM fx
      |             JOIN (SELECT cell, count(*) AS n FROM fx GROUP BY cell)
      |               USING (cell)
      |             WHERE vec_id < 10) AS BIGINT) AS cand_fixed,
      |       CAST((SELECT sum(n - 1) FROM av
      |             JOIN (SELECT cell, count(*) AS n FROM av GROUP BY cell)
      |               USING (cell)
      |             WHERE vec_id < 10) AS BIGINT) AS cand_trained,
      |       CAST((SELECT count(*) FROM ex JOIN tf USING (q_id, n_id))
      |         AS DOUBLE) / ((SELECT count(*) FROM q) * 5) AS recall_fixed,
      |       CAST((SELECT count(*) FROM ex JOIN tt USING (q_id, n_id))
      |         AS DOUBLE) / ((SELECT count(*) FROM q) * 5) AS recall_trained""")

  /** PRODUCT QUANTIZATION (PQ) — the vector-compression operator behind
    * every 100 B-vector ANN deployment (IVF-PQ): the 64-dim space splits
    * into M=32 independent 2-dim subspaces, each trained with its own
    * K=256-centroid k-means, and a vector's code is its per-subspace
    * argmin cell — 32 byte codes instead of 64 floats (M·log2(K) =
    * 256-bit codes, 8× smaller than f32; the codebook stays bounded
    * M·K·subdim = 16,384 grid longs of driver state). The sizing sweep
    * that fixed it: M=4/K=4 (round 6's toy) → recall 0.20, M=8/K=16 →
    * 0.28, M=8/K=256 → 0.38, M=32/K=256 → 0.72 vs 0.74 IVF-flat on
    * identical probed cells (q94's acceptance row) — byte codes with
    * fine subspaces are where residual PQ becomes servable.
    *
    * Training reuses q81's bit-exact integer discipline verbatim —
    * round(x·1000) grid points, BIGINT squared-L2 argmin with (d2, cell)
    * tie-break, floordiv round-half-up centroid updates, empty cells
    * dropping out of the update — so the whole iterative trainer sits
    * inside the DuckDB oracle gate. Per-(sub, cell) keys replace q81's
    * per-cell keys everywhere; otherwise the two Lloyd rounds are the
    * same driver-side loop over bounded M·K·subdim centroid state.
    *
    * Scale shape: identical to [[trainedAssignment]] — per-row codegen
    * assignment against a literal codebook, one map-side-combinable
    * (sub, cell, dim) shuffle per update round; the code table the
    * trainer emits is M rows of (vec_id, sub, code) — the compressed
    * index a PQ serve path (q90) scans instead of raw vectors. */
  private[ext] val PQ_M = 32
  private[ext] val PQ_K = 256
  private[ext] val PQ_SUBDIM = 2

  /** Trained PQ assignment: (vec_id, sub, code, d2) — one row per vector
    * per subspace after two Lloyd rounds — plus the final codebook as a
    * literal-plantable Seq[(sub, cell, gridCoords)]. */
  private def pqAssignment(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, Int, Seq[Long])]) = {
    val e = Tables(s, dir, "embeddings")
    val np = s.sparkContext.defaultParallelism
    val eg = e.select(col("vec_id"), expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1000, 0) as bigint))")
        .as("qa"))
      .repartition(np)
      .localCheckpoint(true)
    pqTrainOn(eg)
  }

  /** `eg` plus a `ba` array of per-subspace struct(d2, cell) — the
    * per-row, per-subspace argmin over the planted sub-codebook, via
    * the native pq_argmin expression (graft.functions.PqArgmin), NOT
    * the declarative transform/array_min/aggregate form: higher-order
    * functions run interpreted (M·K lambda frames per row), which at
    * production sizing (M=32, K=256 → 8192 lambda evals/row) measured
    * ~15–20 s/query at sf0.1 for what is ~30M multiplies. Identical
    * integer algebra and (d2, cell) tie-break, so the oracle gate is
    * unaffected by the swap. */
  private[ext] def pqWithBest(eg: DataFrame,
      cents: Seq[(Int, Int, Seq[Long])]): DataFrame =
    eg.withColumn("ba",
      graft.functions.PqArgmin.argmin(col("qa"), cents, PQ_M, PQ_SUBDIM))

  /** The index code rows (vec_id, cell, codes) of a (vec_id, cell, qa)
    * residual frame: one M-int array of per-subspace code ids per
    * vector — the layout IvfPqIndex.add writes and [[AdcScan]] scores. */
  private[ext] def pqCodes(resid: DataFrame,
      cents: Seq[(Int, Int, Seq[Long])]): DataFrame =
    pqWithBest(resid, cents).select(col("vec_id"), col("cell"),
      expr("transform(ba, b -> b.cell)").as("codes"))

  /** Two PQ Lloyd rounds from an explicit per-(sub, cell) seed —
    * coarseLloyd's loop with (sub, cell, sdim) keys: one map-side-
    * combinable shuffle per round over bounded M·K·subdim driver
    * state. */
  private[ext] def pqLloyd(eg: DataFrame,
      seed: Seq[(Int, Int, Seq[Long])]): Seq[(Int, Int, Seq[Long])] = {
    def updateRound(cents: Seq[(Int, Int, Seq[Long])])
        : Seq[(Int, Int, Seq[Long])] =
      pqWithBest(eg, cents)
        .select(col("qa"), posexplode(col("ba")).as(Seq("sub", "bc")))
        .select(col("sub"), col("bc.cell").as("cell"),
          posexplode(slice(col("qa"), col("sub") * PQ_SUBDIM + 1,
            lit(PQ_SUBDIM))).as(Seq("sdim", "q")))
        .groupBy("sub", "cell", "sdim")
        .agg(sum("q").as("s"), count(lit(1)).as("n"))
        .select(col("sub"), col("cell"), col("sdim"),
          expr("""(2*s + n - pmod(2*s + n, 2*n)) div (2*n)""").as("c"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case ((sub, cell), rows) =>
          (sub, cell, rows.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq) }
        .toSeq.sortBy(t => (t._1, t._2))
    updateRound(updateRound(seed))
  }

  /** (vec_id, sub, code, d2) — one row per vector per subspace, the
    * trained-codebook encoding of `eg`. */
  private[ext] def pqEncode(eg: DataFrame,
      cents: Seq[(Int, Int, Seq[Long])]): DataFrame =
    pqWithBest(eg, cents)
      .select(col("vec_id"), posexplode(col("ba")).as(Seq("sub", "bc")))
      .select(col("vec_id"), col("sub"),
        col("bc.cell").as("code"), col("bc.d2").as("d2"))

  /** PQ training over an arbitrary checkpointed (vec_id, qa) grid frame
    * — factored out so q93 can train sub-codebooks on coarse-cell
    * RESIDUALS (which stay on the integer grid: both the point and the
    * trained centroid are grid longs) with the identical math. Seed =
    * the first PQ_K vectors, cell id = vec_id (the pc0/c0 oracle
    * CTEs). */
  private def pqTrainOn(eg: DataFrame)
      : (DataFrame, Seq[(Int, Int, Seq[Long])]) = {
    val seed = eg.filter(col("vec_id") < PQ_K)
      .select(col("vec_id").cast("int").as("cell"), col("qa"))
      .collect()
      .flatMap { r =>
        val cell = r.getInt(0); val qa = r.getSeq[Long](1)
        (0 until PQ_M).map(m =>
          (m, cell, qa.slice(m * PQ_SUBDIM, (m + 1) * PQ_SUBDIM).toSeq))
      }.toSeq.sortBy(t => (t._1, t._2))
    val trained = pqLloyd(eg, seed)
    (pqEncode(eg, trained), trained)
  }

  /** The residual-PQ training CTEs over the coarse model (expects
    * $trainedAssignmentSql's pts/af/c2 in scope): residuals `rp`, two
    * Lloyd rounds pc0→pc2, final code table `paf` — shared verbatim by
    * q93/q94/q96. Interpolates PQ_SUBDIM/PQ_K so the oracle tracks the
    * codebook sizing by construction. */
  private lazy val pqResidualTrainSql =
    s"""rp AS (SELECT p.vec_id, CAST(p.dim // $PQ_SUBDIM AS INTEGER) AS sub,
      |         p.dim, p.q - c.c AS q
      |       FROM pts p
      |       JOIN af a ON p.vec_id = a.vec_id
      |       JOIN c2 c ON c.cell = a.cell AND c.dim = p.dim),
      |pc0 AS (SELECT sub, CAST(vec_id AS INTEGER) AS cell, dim, q AS c
      |        FROM rp WHERE vec_id < $PQ_K),
      |pd1 AS (SELECT p.vec_id, c.sub, c.cell,
      |          CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2
      |        FROM rp p JOIN pc0 c ON p.dim = c.dim
      |        GROUP BY 1, 2, 3),
      |pa1 AS (SELECT vec_id, sub, cell FROM (
      |         SELECT vec_id, sub, cell,
      |           row_number() OVER (PARTITION BY vec_id, sub
      |             ORDER BY d2, cell) AS rn
      |         FROM pd1) WHERE rn = 1),
      |pc1 AS (SELECT sub, cell, dim,
      |          (2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n))) // (2*n)
      |            AS c
      |        FROM (SELECT a.sub, a.cell, p.dim,
      |                CAST(sum(p.q) AS BIGINT) AS s,
      |                CAST(count(*) AS BIGINT) AS n
      |              FROM rp p
      |              JOIN pa1 a ON p.vec_id = a.vec_id AND p.sub = a.sub
      |              GROUP BY 1, 2, 3)),
      |pd2 AS (SELECT p.vec_id, c.sub, c.cell,
      |          CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2
      |        FROM rp p JOIN pc1 c ON p.dim = c.dim
      |        GROUP BY 1, 2, 3),
      |pa2 AS (SELECT vec_id, sub, cell FROM (
      |         SELECT vec_id, sub, cell,
      |           row_number() OVER (PARTITION BY vec_id, sub
      |             ORDER BY d2, cell) AS rn
      |         FROM pd2) WHERE rn = 1),
      |pc2 AS (SELECT sub, cell, dim,
      |          (2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n))) // (2*n)
      |            AS c
      |        FROM (SELECT a.sub, a.cell, p.dim,
      |                CAST(sum(p.q) AS BIGINT) AS s,
      |                CAST(count(*) AS BIGINT) AS n
      |              FROM rp p
      |              JOIN pa2 a ON p.vec_id = a.vec_id AND p.sub = a.sub
      |              GROUP BY 1, 2, 3)),
      |pdf AS (SELECT p.vec_id, c.sub, c.cell,
      |          CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2
      |        FROM rp p JOIN pc2 c ON p.dim = c.dim
      |        GROUP BY 1, 2, 3),
      |paf AS (SELECT vec_id, sub, cell FROM (
      |         SELECT vec_id, sub, cell,
      |           row_number() OVER (PARTITION BY vec_id, sub
      |             ORDER BY d2, cell) AS rn
      |         FROM pdf) WHERE rn = 1),
      |qd AS (SELECT p.vec_id AS q_id, c.sub, c.cell AS code,
      |         CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2q
      |       FROM rp p JOIN pc2 c ON p.dim = c.dim
      |       WHERE p.vec_id < 10
      |       GROUP BY 1, 2, 3)""".stripMargin

  /** q81's training CTEs with (sub, cell) keys — shared by q89/q90.
    * Interpolates PQ_SUBDIM/PQ_K so the oracle tracks the codebook
    * sizing by construction. */
  private val pqAssignmentSql =
    s"""pts AS (
      |  SELECT vec_id, CAST((i - 1) // $PQ_SUBDIM AS INTEGER) AS sub,
      |    CAST(i - 1 AS INTEGER) AS dim,
      |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
      |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)),
      |c0 AS (SELECT sub, CAST(vec_id AS INTEGER) AS cell, dim, q AS c
      |       FROM pts WHERE vec_id < $PQ_K),
      |d1 AS (SELECT p.vec_id, c.sub, c.cell,
      |         CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2
      |       FROM pts p JOIN c0 c ON p.dim = c.dim
      |       GROUP BY 1, 2, 3),
      |a1 AS (SELECT vec_id, sub, cell FROM (
      |        SELECT vec_id, sub, cell,
      |          row_number() OVER (PARTITION BY vec_id, sub
      |            ORDER BY d2, cell) AS rn
      |        FROM d1) WHERE rn = 1),
      |c1 AS (SELECT sub, cell, dim,
      |         (2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n))) // (2*n)
      |           AS c
      |       FROM (SELECT a.sub, a.cell, p.dim,
      |               CAST(sum(p.q) AS BIGINT) AS s,
      |               CAST(count(*) AS BIGINT) AS n
      |             FROM pts p
      |             JOIN a1 a ON p.vec_id = a.vec_id AND p.sub = a.sub
      |             GROUP BY 1, 2, 3)),
      |d2r AS (SELECT p.vec_id, c.sub, c.cell,
      |          CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2
      |        FROM pts p JOIN c1 c ON p.dim = c.dim
      |        GROUP BY 1, 2, 3),
      |a2 AS (SELECT vec_id, sub, cell FROM (
      |        SELECT vec_id, sub, cell,
      |          row_number() OVER (PARTITION BY vec_id, sub
      |            ORDER BY d2, cell) AS rn
      |        FROM d2r) WHERE rn = 1),
      |c2 AS (SELECT sub, cell, dim,
      |         (2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n))) // (2*n)
      |           AS c
      |       FROM (SELECT a.sub, a.cell, p.dim,
      |               CAST(sum(p.q) AS BIGINT) AS s,
      |               CAST(count(*) AS BIGINT) AS n
      |             FROM pts p
      |             JOIN a2 a ON p.vec_id = a.vec_id AND p.sub = a.sub
      |             GROUP BY 1, 2, 3)),
      |dfin AS (SELECT p.vec_id, c.sub, c.cell,
      |           CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2
      |         FROM pts p JOIN c2 c ON p.dim = c.dim
      |         GROUP BY 1, 2, 3),
      |af AS (SELECT vec_id, sub, cell, d2 FROM (
      |        SELECT vec_id, sub, cell, d2,
      |          row_number() OVER (PARTITION BY vec_id, sub
      |            ORDER BY d2, cell) AS rn
      |        FROM dfin) WHERE rn = 1)""".stripMargin

  private val q89PqCodebook = QueryDef(
    (s, dir) => pqAssignment(s, dir)._1.orderBy("vec_id", "sub"),
    s"""WITH $pqAssignmentSql
      |SELECT vec_id, sub, cell AS code, d2
      |FROM af ORDER BY vec_id, sub""")

  /** PQ ASYMMETRIC-DISTANCE serve (ADC) — how a PQ index answers top-k:
    * each query precomputes its exact squared-L2 distance to every
    * (sub, cell) centroid (an M·K lookup table, broadcast), and a DB
    * vector's approximate distance is the SUM of table entries selected
    * by its stored code — the serve path never touches raw DB vectors,
    * only the M-int codes. All distances stay on the BIGINT grid, so
    * ranking and tie-breaks are oracle-exact end-to-end.
    *
    * Scale shape: the lookup table is queries × M·K rows (broadcast);
    * the scan side joins the code table on (sub, cell) and partial-aggs
    * the M per-sub terms map-side before one (q_id, n_id) shuffle —
    * cost ∝ codes scanned, the entire point of PQ. */
  private val q90PqAdcTopk = QueryDef(
    (s, dir) => {
      val (codes, cents) = pqAssignment(s, dir)
      // query-side lookup table: exact grid distance to every centroid
      val e = Tables(s, dir, "embeddings")
      val qd = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), expr(
          "transform(embedding, x -> cast(round(cast(x as double) * 1000, 0) as bigint))")
          .as("qa"))
        .withColumn("__pc", typedLit(cents))
        .select(col("q_id"), explode(expr(adcLutSql)).as("t"))
        .select(col("q_id"), col("t.sub").as("sub"),
          col("t.code").as("code"), col("t.d2q").as("d2q"))
      val wTop = Window.partitionBy("q_id").orderBy(asc("adist"), asc("n_id"))
      codes.select(col("vec_id").as("n_id"), col("sub"), col("code"))
        .join(broadcast(qd), Seq("sub", "code"))
        .filter(col("n_id") =!= col("q_id"))
        .groupBy("q_id", "n_id")
        .agg(sum("d2q").as("adist"))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("n_id"), col("adist"),
          col("rk").cast("long").as("rk"))
        .orderBy("q_id", "rk")
    },
    s"""WITH $pqAssignmentSql,
      |qd AS (SELECT p.vec_id AS q_id, c.sub, c.cell AS code,
      |         CAST(sum((p.q - c.c) * (p.q - c.c)) AS BIGINT) AS d2q
      |       FROM pts p JOIN c2 c ON p.dim = c.dim
      |       WHERE p.vec_id < 10
      |       GROUP BY 1, 2, 3),
      |adc AS (SELECT qd.q_id, af.vec_id AS n_id,
      |          CAST(sum(qd.d2q) AS BIGINT) AS adist
      |        FROM af JOIN qd
      |          ON af.sub = qd.sub AND af.cell = qd.code
      |        WHERE af.vec_id <> qd.q_id
      |        GROUP BY 1, 2)
      |SELECT q_id, n_id, adist,
      |       row_number() OVER (PARTITION BY q_id
      |         ORDER BY adist, n_id) AS rk
      |FROM adc QUALIFY rk <= 5 ORDER BY q_id, rk""")

  /** The (vec_id, cell, qa=residual) frame over the coarse model — each
    * vector minus its own trained cell centroid, closed over the integer
    * grid; checkpointed because the PQ trainer and the serve paths both
    * consume it. Shared by q93/q94/q96/q100 and IvfPqIndex.
    *
    * Computed in ONE pass over `eg` (guide §2.4): every caller's
    * assignment is by construction the coarseWithBest argmin of the
    * SAME `eg` against the SAME `coarse`, so re-deriving the cell
    * per-row (bounded k·d integer codegen against the planted codebook)
    * and subtracting that cell's centroid inline is value-identical to
    * joining the assignment frame back by vec_id — minus a corpus-wide
    * join (a broadcast build + join stage locally; a shuffle of every
    * row at cluster scale) per serve/create/add. The former
    * `af`-parameter form is gone so no caller can pass a FOREIGN
    * assignment and silently diverge from this identity. */
  private[ext] def residualFrame(coarse: Seq[(Int, Seq[Long])],
      eg: DataFrame): DataFrame =
    residualProjection(coarse, eg).localCheckpoint(true)

  /** [[residualFrame]]'s projection with no checkpoint (over a local
    * batch it folds on the driver; IvfPqIndex.add). */
  private[ext] def residualProjection(coarse: Seq[(Int, Seq[Long])],
      eg: DataFrame): DataFrame =
    eg.withColumn("__cents", typedLit(coarse))
      .withColumn("best", expr(bestSql))
      .select(col("vec_id"), col("best.cell").as("cell"), expr(
        "zip_with(qa, filter(__cents, c -> c._1 = best.cell)[0]._2, (a, b) -> a - b)")
        .as("qa"))

  /** Query-side ADC lookup-table entries over a residual/grid column
    * `qa` and a planted sub-codebook `__pc`: one (sub, code, d2q) struct
    * per centroid. Interpreted HOF evaluation is fine HERE — it only
    * ever runs on the ≤10-row query side; the scan side touches codes
    * through the native pq_argmin path. */
  private lazy val adcLutSql =
    s"""transform(__pc, c -> named_struct(
      |  'sub', c._1, 'code', c._2,
      |  'd2q', aggregate(zip_with(
      |           slice(qa, c._1 * $PQ_SUBDIM + 1, $PQ_SUBDIM),
      |           c._3, (a, b) -> (a - b) * (a - b)),
      |         cast(0 as bigint), (acc, x) -> acc + x)))""".stripMargin

  /** Each query's `nprobe` nearest coarse cells by grid d2 (ties on
    * cell id), with the query's residual re-residualized against THAT
    * cell's centroid — the FAISS multi-probe query side: candidates are
    * residual-encoded against their own cell, so a query probing a
    * foreign cell must subtract that cell's centroid, not its own.
    * Takes the (vec_id, qa) QUERY frame (callers pre-filter their query
    * set). Output: (q_id, p_cell, p_rank, qa); ≤ queries · nprobe rows,
    * always broadcast. p_rank=1 is the query's own coarse cell (the
    * probe ranking is the same (d2, cell) argmin as the assignment). */
  private[ext] def probeCells(q: DataFrame, coarse: Seq[(Int, Seq[Long])],
      nprobe: Int): DataFrame =
    q.withColumn("__cc", typedLit(coarse))
      .select(col("vec_id").as("q_id"),
        explode(expr(
          """transform(__cc, c -> named_struct(
            |  'p_cell', c._1,
            |  'pd2', aggregate(zip_with(qa, c._2, (a, b) -> (a - b) * (a - b)),
            |         cast(0 as bigint), (acc, x) -> acc + x),
            |  'qa', zip_with(qa, c._2, (a, b) -> a - b)))""".stripMargin))
          .as("t"))
      .select(col("q_id"), col("t.p_cell").as("p_cell"),
        col("t.pd2").as("pd2"), col("t.qa").as("qa"))
      .withColumn("p_rank", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("pd2"), asc("p_cell"))))
      .filter(col("p_rank") <= nprobe)
      .drop("pd2")

  /** The nprobe-cell ADC lookup table over a [[probeCells]] frame:
    * for each (query, probed cell), the M·K LUT over the query's
    * per-probe residual. Output: (q_id, p_cell, p_rank, sub, code,
    * d2q). Joined on (sub, code, p_cell) with the posexploded code rows
    * of each candidate's OWN cell, it is the relational ADC scoring
    * ([[IvfPqIndex.scoredCandidates]], the reference the fused
    * [[AdcScan]] serve is tested against). */
  private[ext] def probeLutOver(pc: DataFrame,
      subcents: Seq[(Int, Int, Seq[Long])]): DataFrame =
    pc.withColumn("__pc", typedLit(subcents))
      .select(col("q_id"), col("p_cell"), col("p_rank"),
        explode(expr(adcLutSql)).as("t"))
      .select(col("q_id"), col("p_cell"), col("p_rank"),
        col("t.sub").as("sub"), col("t.code").as("code"),
        col("t.d2q").as("d2q"))

  /** q93's trained IVF-PQ model over the fixture's embeddings: the
    * checkpointed grid frame, the residual frame, and both codebooks
    * (the trained coarse centroids and the residual PQ sub-codebook). */
  private[ext] def ivfPqModel(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Codebooks) = {
    val (_, coarse, eg) = trainedModel(s, dir)
    val resid = residualFrame(coarse, eg)
    val (_, subcents) = pqTrainOn(resid.select("vec_id", "qa"))
    (eg, resid, Codebooks(coarse, subcents))
  }

  /** The in-query IVF-PQ serve: top-`k` ADC of the gridded (vec_id, qa)
    * `queries` at `nprobe` cells through [[AdcScan]], the persisted
    * index's serve, over the code rows of the residual frame `resid` —
    * restricted to the probed cells and encoded by [[pqCodes]], as
    * IvfPqIndex.add writes them. A query never scores a row whose
    * exclusion key equals its own: its vec_id, or the `ex` column of
    * `keys` (vec_id, ex) when given, joined to both sides by vec_id. Output
    * (q_id, n_id, adist, rk), ranked by (adist, n_id). */
  private[ext] def adcServe(cb: Codebooks, resid: DataFrame,
      queries: DataFrame, nprobe: Int, k: Int,
      keys: Option[DataFrame] = None): DataFrame = {
    def keyed(df: DataFrame): DataFrame =
      keys.fold(df.withColumn("ex", col("vec_id")))(
        df.join(_, Seq("vec_id")))
    val scan = AdcScan.plan(cb, keyed(queries), nprobe, k)
    scan.serve(keyed(pqCodes(
      resid.filter(col("cell").isin(scan.cells: _*)), cb.subcents)))
  }

  /** IVF-PQ end-to-end — the production vector index (FAISS's IVFPQ):
    * q81's trained coarse codebook partitions the corpus into cells;
    * each vector's RESIDUAL (vector − its cell centroid) is compressed
    * with q89's product quantizer; and the serve path probes the query's
    * own cell (nprobe=1), ranking candidates by the ADC sum over the
    * query's residual lookup table. Residuals stay on the integer grid
    * (both the point and the trained centroid are grid longs), so the
    * ENTIRE composition — coarse training → residuals → sub-codebook
    * training → code assignment → ADC ranking with tie-breaks — is
    * oracle-exact. This is why residual-PQ works at all here: subtraction
    * closes over the grid, where a float pipeline would have to re-round.
    *
    * Scale shape: coarse+PQ training are bounded-driver-state Lloyd
    * loops (one map-side-combinable shuffle per round); the serve is
    * [[adcServe]]'s fused scan of the M-int codes in the probed cell
    * (per-probe LUT, M lookups per code, per-query top-5 heap) and one
    * single-partition merge of the heaps — no LUT join, candidate
    * shuffle or window; cost ∝ codes, never raw vectors. */
  private val q93IvfPqTopk = QueryDef(
    (s, dir) => {
      val (eg, resid, cb) = ivfPqModel(s, dir)
      // nprobe=1: the first probe by (d2, cell) IS the assignment's
      // argmin, so each query scores its own cell's residual codes
      adcServe(cb, resid, eg.filter(col("vec_id") < 10), nprobe = 1, k = 5)
    },
    s"""WITH $trainedAssignmentSql,
      |$pqResidualTrainSql,
      |adc AS (SELECT qd.q_id, pf.vec_id AS n_id,
      |          CAST(sum(qd.d2q) AS BIGINT) AS adist
      |        FROM paf pf
      |        JOIN qd ON pf.sub = qd.sub AND pf.cell = qd.code
      |        JOIN af an ON an.vec_id = pf.vec_id
      |        JOIN af aq ON aq.vec_id = qd.q_id AND aq.cell = an.cell
      |        WHERE pf.vec_id <> qd.q_id
      |        GROUP BY 1, 2)
      |SELECT q_id, n_id, adist,
      |       row_number() OVER (PARTITION BY q_id
      |         ORDER BY adist, n_id) AS rk
      |FROM adc QUALIFY rk <= 5 ORDER BY q_id, rk""")

  /** The nprobe=2 multi-probe serve CTEs over the coarse + residual-PQ
    * model (expects $trainedAssignmentSql's pts/c2/af and
    * $pqResidualTrainSql's pc2/paf in scope): probe set `qc` (each
    * query's top-2 coarse cells by grid d2, ties on cell id — p_rank=1
    * is the query's own cell, the same (d2, cell) argmin as the
    * assignment), per-probe residuals `rq` (the query re-residualized
    * against the PROBED cell's centroid, since candidates are encoded
    * against their own cell), per-probe ADC LUTs `qlut`, and the
    * multi-probe ADC sums `madc` (each candidate scored through the LUT
    * of the cell it lives in). Shared by the q96 serve, q94's nprobe=2
    * acceptance columns, q100's shortlist, and (composed over the
    * split-training CTEs) the q98/q99 IvfPqIndex oracles. */
  private[ext] lazy val pqMultiProbeSql = pqMultiProbeSqlAt("2")

  /** [[pqMultiProbeSql]] generalized over the probe width: `nprobeExpr`
    * is any scalar SQL expression (a literal, or a scalar subquery over
    * an EARLIER CTE — how q129's oracle derives the adaptive width from
    * measured selectivity), and `sfx` suffixes every CTE name so two
    * widths can coexist in one WITH chain (madc vs madc4). */
  private[ext] def pqMultiProbeSqlAt(nprobeExpr: String,
      sfx: String = ""): String =
    s"""qc$sfx AS (SELECT vec_id AS q_id, cell AS p_cell, p_rank FROM (
      |        SELECT p.vec_id, c.cell,
      |          row_number() OVER (PARTITION BY p.vec_id
      |            ORDER BY sum((p.q - c.c) * (p.q - c.c)), c.cell)
      |            AS p_rank
      |        FROM pts p JOIN c2 c ON p.dim = c.dim
      |        WHERE p.vec_id < 10
      |        GROUP BY p.vec_id, c.cell) WHERE p_rank <= $nprobeExpr),
      |rq$sfx AS (SELECT pc.q_id, pc.p_cell, p.dim, p.q - c.c AS q
      |       FROM qc$sfx pc
      |       JOIN pts p ON p.vec_id = pc.q_id
      |       JOIN c2 c ON c.cell = pc.p_cell AND c.dim = p.dim),
      |qlut$sfx AS (SELECT r.q_id, r.p_cell, c.sub, c.cell AS code,
      |           CAST(sum((r.q - c.c) * (r.q - c.c)) AS BIGINT) AS d2q
      |         FROM rq$sfx r JOIN pc2 c ON r.dim = c.dim
      |         GROUP BY 1, 2, 3, 4),
      |madc$sfx AS (SELECT qd.q_id, pf.vec_id AS n_id,
      |           CAST(sum(qd.d2q) AS BIGINT) AS adist
      |         FROM paf pf
      |         JOIN af an ON an.vec_id = pf.vec_id
      |         JOIN qlut$sfx qd ON pf.sub = qd.sub AND pf.cell = qd.code
      |           AND qd.p_cell = an.cell
      |         WHERE pf.vec_id <> qd.q_id
      |         GROUP BY 1, 2)""".stripMargin

  /** IVF-PQ MULTI-PROBE serve — q93 at nprobe=2, the recall lever q94's
    * acceptance row priced: at nprobe=1 the serve loses 0.26 recall to
    * cell pruning ALONE (recall_ivf 0.74 — exact distances, same probed
    * cells), so widening the probe set, not a bigger codebook, is the
    * next quality knob (q70 measured the same lever on plain IVF:
    * 0.78→0.80 at nprobe 1→2). Each query probes its TWO nearest coarse
    * cells by grid d2, re-residualizes against each probed centroid
    * (candidates are residual-encoded against their OWN cell — see
    * [[probeCells]]), and ranks the union of both cells' candidates by
    * the ADC sum through the matching per-probe LUT. A candidate lives
    * in exactly one cell, so the probe union is disjoint — candidate
    * cost simply doubles with the second cell (q94's cand_cells2 column
    * measures it).
    *
    * Scale shape: q93's fused scan over both probed cells — per-probe
    * LUTs built in-task from ≤ queries · nprobe residuals, M-int codes
    * only, a per-query top-5 heap, one single-partition merge; cost ∝
    * probed-cell sizes, never raw vectors. */
  private val q96IvfPqMultiprobe = QueryDef(
    (s, dir) => {
      val (eg, resid, cb) = ivfPqModel(s, dir)
      adcServe(cb, resid, eg.filter(col("vec_id") < 10), nprobe = 2, k = 5)
    },
    s"""WITH $trainedAssignmentSql,
      |$pqResidualTrainSql,
      |$pqMultiProbeSql
      |SELECT q_id, n_id, adist,
      |       row_number() OVER (PARTITION BY q_id
      |         ORDER BY adist, n_id) AS rk
      |FROM madc QUALIFY rk <= 5 ORDER BY q_id, rk""")

  /** IVF-PQ serve with EXACT RE-RANKING — the "refine" stage every
    * production ADC deployment bolts on (FAISS's IVFPQR shape, Jégou et
    * al. TPAMI 2011 §V): the quantized serve is cheap but its top-5
    * ORDER carries quantization error, so the serve widens to an ADC
    * top-20 SHORTLIST and re-ranks just those candidates by exact
    * grid-L2 over the raw vectors, fetched BY ID. Recall is bounded by
    * the shortlist (re-ranking recovers ordering errors, not pruned
    * candidates), which is why the shortlist is 4× the final k. Output
    * carries BOTH distances — adist (what the index believed) and d2
    * (the truth it was refined with) — so the gap per rank is readable
    * off the row.
    *
    * Scale shape: q96's fused scan with a top-20 heap, then the ≤
    * queries·20-row shortlist BROADCASTS against the corpus for the
    * id-equi fetch — exact-distance work ∝ shortlist, never corpus. */
  private val q100IvfPqRerank = QueryDef(
    (s, dir) => {
      val (eg, resid, cb) = ivfPqModel(s, dir)
      val shortlist = adcServe(cb, resid, eg.filter(col("vec_id") < 10),
          nprobe = 2, k = 20)
        .select("q_id", "n_id", "adist")
      val q = eg.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qa").as("q_qa"))
      val wEx = Window.partitionBy("q_id").orderBy(asc("d2"), asc("n_id"))
      eg.select(col("vec_id").as("n_id"), col("qa"))
        .join(broadcast(shortlist), Seq("n_id"))
        .join(broadcast(q), Seq("q_id"))
        .withColumn("d2",
          graft.functions.LongVec.l2(col("qa"), col("q_qa")))
        .withColumn("rk", row_number().over(wEx))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("n_id"), col("adist"), col("d2"),
          col("rk").cast("long").as("rk"))
        .orderBy("q_id", "rk")
    },
    s"""WITH $trainedAssignmentSql,
      |$pqResidualTrainSql,
      |$pqMultiProbeSql,
      |sl AS (SELECT q_id, n_id, adist FROM (
      |        SELECT q_id, n_id, adist,
      |          row_number() OVER (PARTITION BY q_id
      |            ORDER BY adist, n_id) AS ark
      |        FROM madc) WHERE ark <= 20),
      |rr AS (SELECT sl.q_id, sl.n_id, sl.adist,
      |         CAST(sum((b.q - a.q) * (b.q - a.q)) AS BIGINT) AS d2
      |       FROM sl
      |       JOIN pts a ON a.vec_id = sl.q_id
      |       JOIN pts b ON b.vec_id = sl.n_id AND b.dim = a.dim
      |       GROUP BY 1, 2, 3)
      |SELECT q_id, n_id, adist, d2,
      |       row_number() OVER (PARTITION BY q_id
      |         ORDER BY d2, n_id) AS rk
      |FROM rr QUALIFY rk <= 5 ORDER BY q_id, rk""")

  /** Hard-negative mining AT SERVING COST — the scale path q118's
    * Scaladoc promises: the same component-level positive exclusion
    * (q80's transitive near-dup closure), but the candidate arm is
    * q100's IVF-PQ ADC serve + exact re-rank instead of the exact
    * corpus scan — the shape that survives when the corpus is 100 TB
    * and a per-query full scan is off the table. The component label is
    * the serve's exclusion key, so positives drop out inside the ADC
    * scan before the top-20 cut (the cheapest place: they are pruned
    * before any exact-distance work, and the heap refills their slots
    * with true negatives); it also subsumes the self-exclusion, since a
    * query shares its own component. Like q100, recall is bounded by
    * the shortlist — a positive-heavy neighborhood costs candidates,
    * which is exactly the trade a production miner accepts.
    *
    * Scale shape: q100's fused serve + a vec_id-keyed label join on
    * each side of it; component labels arrive through q79's bucket
    * equi-join + q67's closure, never a theta join. */
  private val q121ServedHardNegatives = QueryDef(
    (s, dir) => {
      val (eg, resid, cb) = ivfPqModel(s, dir)
      val comp = Dedup.connectedComponents(Dedup.multiProbePairs(s, dir)
          .select(col("a_id").as("doc_a"), col("b_id").as("doc_b")))
        .withColumnRenamed("doc_id", "vec_id")
      val lbl = eg.select(col("vec_id"))
        .join(comp.select("vec_id", "component_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("component_id"), col("vec_id")).as("ex"))
      val shortlist = adcServe(cb, resid, eg.filter(col("vec_id") < 10),
          nprobe = 2, k = 20, keys = Some(lbl))
        .select("q_id", "n_id", "adist")
      val q = eg.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qa").as("q_qa"))
      val wEx = Window.partitionBy("q_id").orderBy(asc("d2"), asc("n_id"))
      eg.select(col("vec_id").as("n_id"), col("qa"))
        .join(broadcast(shortlist), Seq("n_id"))
        .join(broadcast(q), Seq("q_id"))
        .withColumn("d2",
          graft.functions.LongVec.l2(col("qa"), col("q_qa")))
        .withColumn("rk", row_number().over(wEx))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("n_id"), col("adist"), col("d2"),
          col("rk").cast("long").as("rk"))
        .orderBy("q_id", "rk")
    },
    s"""WITH RECURSIVE $trainedAssignmentSql,
      |$pqResidualTrainSql,
      |$pqMultiProbeSql,
      |${Dedup.multiProbePairSql},
      |prs AS (SELECT a_id AS doc_a, b_id AS doc_b
      |        FROM mp WHERE c >= 0.4),
      |ed AS (SELECT doc_a AS a, doc_b AS b FROM prs
      |       UNION ALL SELECT doc_b, doc_a FROM prs),
      |reach(src, dst) AS (
      |  SELECT a, a FROM ed
      |  UNION
      |  SELECT r.src, ed.b FROM reach r JOIN ed ON r.dst = ed.a),
      |cmp AS (SELECT src AS vec_id, min(dst) AS component_id
      |        FROM reach GROUP BY src),
      |cl AS (SELECT emb.vec_id,
      |         coalesce(c.component_id, emb.vec_id) AS comp
      |       FROM embeddings emb LEFT JOIN cmp c ON emb.vec_id = c.vec_id),
      |slf AS (SELECT m.q_id, m.n_id, m.adist
      |        FROM madc m
      |        JOIN cl a ON a.vec_id = m.n_id
      |        JOIN cl b ON b.vec_id = m.q_id
      |        WHERE a.comp <> b.comp),
      |sl AS (SELECT q_id, n_id, adist FROM (
      |        SELECT q_id, n_id, adist,
      |          row_number() OVER (PARTITION BY q_id
      |            ORDER BY adist, n_id) AS ark
      |        FROM slf) WHERE ark <= 20),
      |rr AS (SELECT sl.q_id, sl.n_id, sl.adist,
      |         CAST(sum((b.q - a.q) * (b.q - a.q)) AS BIGINT) AS d2
      |       FROM sl
      |       JOIN pts a ON a.vec_id = sl.q_id
      |       JOIN pts b ON b.vec_id = sl.n_id AND b.dim = a.dim
      |       GROUP BY 1, 2, 3)
      |SELECT q_id, n_id, adist, d2,
      |       row_number() OVER (PARTITION BY q_id
      |         ORDER BY d2, n_id) AS rk
      |FROM rr QUALIFY rk <= 5 ORDER BY q_id, rk""")

  /** TIERED serve — the full refine ladder a production vector store
    * runs, as one declarative query: the IVF-PQ ADC serve (256-bit
    * residual codes, q96) widens to a top-50 shortlist; the SQ8 tier
    * (512-bit shared-scale codes, q108's family) re-ranks it by integer
    * squared-L2 down to 20; the exact grid (full-width vectors) refines
    * the survivors to the final top-5. Fidelity strictly increases down
    * the ladder — 256-bit ADC → 512-bit SQ8 → 704-bit exact — while the
    * candidate count strictly shrinks (all → 50 → 20 → 5), which is the
    * whole economics of tiered retrieval: each tier's cost is the
    * previous tier's output size, and only the 256-bit codes are ever
    * scanned corpus-wide. Rows carry all three beliefs (adist, d2sq8,
    * d2) so the instrument shows what each tier corrected.
    *
    * Scale shape: tier 1 is q96's fused serve with a top-50 heap;
    * tiers 2 and 3 fetch by id against broadcast shortlists (≤ 50·q and
    * ≤ 20·q rows) — code and vector traffic ∝ shortlist, never corpus. */
  private val q113TieredServe = QueryDef(
    (s, dir) => {
      val (eg, resid, cb) = ivfPqModel(s, dir)
      val shortlist = adcServe(cb, resid, eg.filter(col("vec_id") < 10),
          nprobe = 2, k = 50)
        .select("q_id", "n_id", "adist")
      val cd = sq8Codes(s, dir)
      val q8 = cd.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("c").as("qc8"))
      val w8 = Window.partitionBy("q_id").orderBy(asc("d2sq8"), asc("n_id"))
      val mid = cd.select(col("vec_id").as("n_id"), col("c").as("nc8"))
        .join(broadcast(shortlist), Seq("n_id"))
        .join(broadcast(q8), Seq("q_id"))
        .withColumn("d2sq8",
          graft.functions.LongVec.l2(col("qc8"), col("nc8")))
        .withColumn("srk", row_number().over(w8))
        .filter(col("srk") <= 20)
        .select("q_id", "n_id", "adist", "d2sq8")
      val q = eg.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qa").as("q_qa"))
      val wEx = Window.partitionBy("q_id").orderBy(asc("d2"), asc("n_id"))
      eg.select(col("vec_id").as("n_id"), col("qa"))
        .join(broadcast(mid), Seq("n_id"))
        .join(broadcast(q), Seq("q_id"))
        .withColumn("d2",
          graft.functions.LongVec.l2(col("qa"), col("q_qa")))
        .withColumn("rk", row_number().over(wEx))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("n_id"), col("adist"), col("d2sq8"),
          col("d2"), col("rk").cast("long").as("rk"))
        .orderBy("q_id", "rk")
    },
    s"""WITH $trainedAssignmentSql,
      |$pqResidualTrainSql,
      |$pqMultiProbeSql,
      |$sq8CodeCtes,
      |sl AS (SELECT q_id, n_id, adist FROM (
      |        SELECT q_id, n_id, adist,
      |          row_number() OVER (PARTITION BY q_id
      |            ORDER BY adist, n_id) AS ark
      |        FROM madc) WHERE ark <= 50),
      |r8 AS (SELECT sl.q_id, sl.n_id, sl.adist,
      |         CAST(list_sum(list_transform(qcd.c,
      |           (x,i) -> (x - ncd.c[i]) * (x - ncd.c[i]))) AS BIGINT)
      |           AS d2sq8
      |       FROM sl JOIN cd qcd ON qcd.vec_id = sl.q_id
      |       JOIN cd ncd ON ncd.vec_id = sl.n_id),
      |m20 AS (SELECT q_id, n_id, adist, d2sq8 FROM (
      |         SELECT r8.*, row_number() OVER (PARTITION BY q_id
      |           ORDER BY d2sq8, n_id) AS srk FROM r8)
      |        WHERE srk <= 20),
      |rr AS (SELECT m.q_id, m.n_id, m.adist, m.d2sq8,
      |         CAST(sum((b.q - a.q) * (b.q - a.q)) AS BIGINT) AS d2
      |       FROM m20 m JOIN pts a ON a.vec_id = m.q_id
      |       JOIN pts b ON b.vec_id = m.n_id AND b.dim = a.dim
      |       GROUP BY 1, 2, 3, 4)
      |SELECT q_id, n_id, adist, d2sq8, d2,
      |       row_number() OVER (PARTITION BY q_id
      |         ORDER BY d2, n_id) AS rk
      |FROM rr QUALIFY rk <= 5 ORDER BY q_id, rk""")

  /** IVF-PQ ACCEPTANCE row — q87's discipline applied to q93: before a
    * pipeline swaps raw-vector serving for PQ codes it needs the recall
    * cost of each approximation STAGE, separately. One row compares,
    * against the exact grid-L2 top-5 ground truth: (a) IVF-flat —
    * exact distances inside the probed cell (loss = cell pruning only),
    * (b) IVF-PQ at nprobe=1 — ADC distances inside the same cell (loss
    * = cell pruning + quantization), and (c) IVF-PQ at nprobe=2 — ADC
    * over the two nearest cells (q96's serve; quantization loss at half
    * the pruning loss). hits_ivf − hits_pq is the price of 8×
    * compression; hits_pq2 − hits_pq is what the second probe buys, and
    * cand_cells2 − cand_cells is what it costs. Every distance, hit
    * count and tie-break is BIGINT, so the full two-trainer instrument
    * is oracle-exact. */
  private val q94IvfPqRecall = QueryDef(
    (s, dir) => {
      val (eg, resid, cb) = ivfPqModel(s, dir)
      // ONE tagged frame (q87's shape): exact grid-L2 within the cell
      // for src=f, own-cell ADC for src=p, two-cell ADC for src=m.
      // Cell tag re-derived per-row from the planted codebook instead
      // of joining the assignment frame back by vec_id — the same
      // one-pass identity residualFrame uses (the argmin is
      // deterministic integer arithmetic over the same eg/coarse).
      val egc = coarseWithBest(eg, cb.coarse)
        .select(col("vec_id"), col("qa"), col("best.cell").as("cell"))
        .localCheckpoint(true)
      val q = egc.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qa").as("q_qa"),
          col("cell").as("q_cell"))
      // native kernel: the flat arm scans every same-cell (corpus row,
      // query) pair — corpus-hot, not query-side
      val d2 = graft.functions.LongVec.l2(col("qa"), col("q_qa"))
      val wTop = Window.partitionBy("q_id").orderBy(asc("adist"), asc("n_id"))
      val flat = egc.select(col("vec_id").as("n_id"), col("qa"), col("cell"))
        .join(broadcast(q), col("cell") === col("q_cell") &&
          col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), d2.as("adist"))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .select(lit("f").as("src"), col("q_id"), col("n_id"))
      // the PQ rows are two ADC serves: at nprobe=1 the one probe is the
      // assignment's own cell (same (d2, cell) argmin), so src=p scores
      // exactly the cell the flat arm scans
      def pq(np: Int, srcTag: String): DataFrame =
        adcServe(cb, resid, eg.filter(col("vec_id") < 10), np, k = 5)
          .select(lit(srcTag).as("src"), col("q_id"), col("n_id"))
      val serve = flat.unionByName(pq(1, "p")).unionByName(pq(2, "m"))
      val exact = egc.select(col("vec_id").as("n_id"), col("qa"))
        .join(broadcast(q), col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), d2.as("adist"))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("n_id"))
      val hits = serve.join(exact, Seq("q_id", "n_id"), "left_semi")
        .groupBy().agg(
          coalesce(sum(when(col("src") === "f", 1L).otherwise(0L)), lit(0L))
            .as("hits_ivf"),
          coalesce(sum(when(col("src") === "p", 1L).otherwise(0L)), lit(0L))
            .as("hits_pq"),
          coalesce(sum(when(col("src") === "m", 1L).otherwise(0L)), lit(0L))
            .as("hits_pq2"))
      val sz = egc.groupBy("cell").agg(count(lit(1)).as("__n"))
      val cost = egc.filter(col("vec_id") < 10)
        .join(broadcast(sz), Seq("cell"))
        .agg(sum(col("__n") - 1).as("cand_cells"))
      // nprobe=2 candidate cost: every (query, candidate) pair across
      // both probed cells, self excluded — what the second probe costs.
      val cost2 = egc.select(col("vec_id").as("n_id"), col("cell"))
        .join(broadcast(probeCells(eg.filter(col("vec_id") < 10), cb.coarse,
            nprobe = 2).select(col("q_id"), col("p_cell"))),
          col("cell") === col("p_cell"))
        .filter(col("n_id") =!= col("q_id"))
        .agg(count(lit(1)).as("cand_cells2"))
      val nQ = q.agg(count(lit(1)).as("n_queries"))
      nQ.crossJoin(broadcast(hits)).crossJoin(broadcast(cost))
        .crossJoin(broadcast(cost2))
        .select(col("n_queries"), col("hits_ivf"), col("hits_pq"),
          col("hits_pq2"), col("cand_cells"), col("cand_cells2"),
          (col("hits_ivf").cast("double") / (col("n_queries") * 5))
            .as("recall_ivf"),
          (col("hits_pq").cast("double") / (col("n_queries") * 5))
            .as("recall_pq"),
          (col("hits_pq2").cast("double") / (col("n_queries") * 5))
            .as("recall_pq2"))
    },
    s"""WITH $trainedAssignmentSql,
      |$pqResidualTrainSql,
      |$pqMultiProbeSql,
      |gd AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
      |         CAST(sum((b.q - a.q) * (b.q - a.q)) AS BIGINT) AS adist
      |       FROM pts a JOIN pts b ON a.dim = b.dim
      |       WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
      |       GROUP BY 1, 2),
      |ex AS (SELECT q_id, n_id FROM (
      |        SELECT q_id, n_id,
      |          row_number() OVER (PARTITION BY q_id
      |            ORDER BY adist, n_id) AS rk
      |        FROM gd) WHERE rk <= 5),
      |fl AS (SELECT q_id, n_id FROM (
      |        SELECT g.q_id, g.n_id,
      |          row_number() OVER (PARTITION BY g.q_id
      |            ORDER BY g.adist, g.n_id) AS rk
      |        FROM gd g
      |        JOIN af an ON an.vec_id = g.n_id
      |        JOIN af aq ON aq.vec_id = g.q_id AND aq.cell = an.cell)
      |       WHERE rk <= 5),
      |pqs AS (SELECT q_id, n_id FROM (
      |         SELECT qd.q_id, pf.vec_id AS n_id,
      |           row_number() OVER (PARTITION BY qd.q_id
      |             ORDER BY CAST(sum(qd.d2q) AS BIGINT), pf.vec_id) AS rk
      |         FROM paf pf
      |         JOIN qd ON pf.sub = qd.sub AND pf.cell = qd.code
      |         JOIN af an ON an.vec_id = pf.vec_id
      |         JOIN af aq ON aq.vec_id = qd.q_id AND aq.cell = an.cell
      |         WHERE pf.vec_id <> qd.q_id
      |         GROUP BY qd.q_id, pf.vec_id) WHERE rk <= 5),
      |mps AS (SELECT q_id, n_id FROM (
      |         SELECT q_id, n_id,
      |           row_number() OVER (PARTITION BY q_id
      |             ORDER BY adist, n_id) AS rk
      |         FROM madc) WHERE rk <= 5)
      |SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 10)
      |         AS BIGINT) AS n_queries,
      |       CAST((SELECT count(*) FROM ex JOIN fl USING (q_id, n_id))
      |         AS BIGINT) AS hits_ivf,
      |       CAST((SELECT count(*) FROM ex JOIN pqs USING (q_id, n_id))
      |         AS BIGINT) AS hits_pq,
      |       CAST((SELECT count(*) FROM ex JOIN mps USING (q_id, n_id))
      |         AS BIGINT) AS hits_pq2,
      |       CAST((SELECT sum(n - 1) FROM af
      |             JOIN (SELECT cell, count(*) AS n FROM af GROUP BY cell)
      |               USING (cell)
      |             WHERE vec_id < 10) AS BIGINT) AS cand_cells,
      |       CAST((SELECT count(*) FROM af an JOIN qc
      |               ON an.cell = qc.p_cell
      |             WHERE an.vec_id <> qc.q_id) AS BIGINT) AS cand_cells2,
      |       CAST((SELECT count(*) FROM ex JOIN fl USING (q_id, n_id))
      |         AS DOUBLE) /
      |         ((SELECT count(*) FROM embeddings WHERE vec_id < 10) * 5)
      |         AS recall_ivf,
      |       CAST((SELECT count(*) FROM ex JOIN pqs USING (q_id, n_id))
      |         AS DOUBLE) /
      |         ((SELECT count(*) FROM embeddings WHERE vec_id < 10) * 5)
      |         AS recall_pq,
      |       CAST((SELECT count(*) FROM ex JOIN mps USING (q_id, n_id))
      |         AS DOUBLE) /
      |         ((SELECT count(*) FROM embeddings WHERE vec_id < 10) * 5)
      |         AS recall_pq2""")

  val defs: Map[String, QueryDef] = Map(
    "q89_pq_codebook" -> q89PqCodebook,
    "q90_pq_adc_topk" -> q90PqAdcTopk,
    "q93_ivfpq_topk" -> q93IvfPqTopk,
    "q94_ivfpq_recall" -> q94IvfPqRecall,
    "q96_ivfpq_multiprobe" -> q96IvfPqMultiprobe,
    "q100_ivfpq_rerank" -> q100IvfPqRerank,
    "q121_served_hard_negatives" -> q121ServedHardNegatives,
    "q34_knn_cosine" -> q34KnnBrute,
    "q102_filtered_knn" -> q102FilteredKnn,
    "q35_knn_lsh" -> q35KnnLsh,
    "q59_knn_ivf" -> q59KnnIvf,
    "q70_ann_recall" -> q70AnnRecall,
    "q74_knn_multiprobe" -> q74KnnMultiprobe,
    "q81_kmeans_codebook" -> q81KmeansCodebook,
    "q82_knn_ivf_trained" -> q82KnnIvfTrained,
    "q87_ivf_trained_recall" -> q87IvfTrainedRecall,
    "q62_embedding_quantize" -> q62Quantize,
    "q108_sq8_serve" -> q108Sq8Serve,
    "q109_sq8_acceptance" -> q109Sq8Acceptance,
    "q113_tiered_serve" -> q113TieredServe,
  )
}
