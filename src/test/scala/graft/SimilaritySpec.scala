package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private def embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private def queries = Similarity.defaultQueries(embs)

  test("s01 returns exactly k ranked neighbors per query, ranks contiguous") {
    val rows = Similarity.bruteForceTopK(embs, queries).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 5)
    byQuery.values.foreach { rs =>
      assert(rs.length == Similarity.K)
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to Similarity.K))
    }
    // no self-matches, scores within [-1, 1], descending by rank
    assert(rows.forall(r => r.getAs[Long]("vec_id") != r.getAs[Long]("query_id")))
    byQuery.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("s02 ANN results are a subset of the same-bucket corpus, never worse than rank order") {
    val rows = Similarity.annTopK(embs, queries).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("multiprobe ANN recall is at least single-probe recall, and both are honest subsets") {
    def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val truth = resultSet(Similarity.bruteForceTopK(embs, queries))
    val single = resultSet(Similarity.annTopK(embs, queries, probes = 1))
    val multi = resultSet(Similarity.annTopK(embs, queries, probes = 5))
    def recall(s: Set[(Long, Long)]) = (s intersect truth).size.toDouble / truth.size
    assert(recall(multi) >= recall(single),
      s"multiprobe recall ${recall(multi)} < single-probe ${recall(single)}")
    // multiprobe widens candidates, so per-query result quality never drops:
    // every single-probe hit that is also ground truth stays in multiprobe
    assert((single intersect truth).subsetOf(multi))
  }

  test("s03 IVF results rank correctly and recall grows with probed cells") {
    val rows = Similarity.ivfTopK(embs, queries).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
    def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val truth = resultSet(Similarity.bruteForceTopK(embs, queries))
    def recall(nProbe: Int) =
      (resultSet(Similarity.ivfTopK(embs, queries, nProbe = nProbe))
        intersect truth).size.toDouble / truth.size
    // probing every cell IS exhaustive search — recall must hit 1.0
    assert(recall(Similarity.NCentroids) == 1.0)
    assert(recall(Similarity.NProbe) <= recall(Similarity.NCentroids))
  }

  test("recall@10 floors hold at realistic probe counts (vs s01 ground truth)") {
    // the corpus and every operator are deterministic, so these recalls
    // are exact reproducible numbers (measured by `Measure scenario recall`, floors
    // set just below them; SCALE.md has the sf0.1/20x sweep):
    //   s02 sign-LSH probes=4: 0.44   s03 IVF nProbe=4: 0.88
    //   s04 k-means IVF nProbe=4: 0.84 (trained centroids overtake
    //   first-N on the larger sf0.1 corpus: 1.00 vs 1.00 at nProbe=4,
    //   1.00 vs 0.98 at nProbe=1)
    val truth = Similarity.bruteForceTopK(embs, queries)
    def recall(df: org.apache.spark.sql.DataFrame) = Similarity.recallAtK(df, truth)
    assert(recall(Similarity.annTopK(embs, queries, probes = 4)) >= 0.40)
    assert(recall(Similarity.ivfTopK(embs, queries, nProbe = 4)) >= 0.85)
    assert(recall(Similarity.kmeansTopK(embs, queries, nProbe = 4)) >= 0.80)
  }

  test("s05 cluster stats: sizes cover the corpus, cohesion is a valid cosine mean") {
    val stats = Similarity.clusterStats(embs).collect()
    assert(stats.length <= Similarity.NCentroids)
    assert(stats.map(_.getAs[Long]("n_vectors")).sum == embs.count(),
      "every vector belongs to exactly one cluster")
    assert(stats.forall { r =>
      val m = r.getAs[Double]("mean_cos"); m >= -1.0 && m <= 1.0
    })
    // cohesion must beat the corpus-wide mean pairwise baseline in
    // aggregate: members are closer to their OWN centroid than a random
    // vector is to a random centroid (weak but distribution-free)
    val sized = stats.map(r => (r.getAs[Long]("n_vectors"), r.getAs[Double]("mean_cos")))
    val weighted = sized.map { case (n, m) => n * m }.sum / sized.map(_._1).sum
    assert(weighted > 0.0, s"weighted cohesion $weighted should be positive")
  }

  test("s03 corpus cell assignment is map-side — no corpus-keyed window shuffle") {
    val plan = Similarity.ivfTopK(embs, queries)
      .queryExecution.executedPlan.toString()
    // the only Window over vec_id-partitioned data would come from a
    // shuffled argmax; assignment must run as a fold inside the scan task
    assert(!plan.contains("CartesianProduct"), s"cartesian in IVF path:\n$plan")
    assert(!plan.contains("hashpartitioning(vec_id"),
      s"corpus shuffled by vec_id — cell assignment is not map-side:\n$plan")
  }

  test("top-k plans use WindowGroupLimit (per-task partial top-k before the shuffle)") {
    Seq(
      Similarity.bruteForceTopK(embs, queries),
      Similarity.annTopK(embs, queries)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("WindowGroupLimit"),
        s"no WindowGroupLimit — full corpus would shuffle into the rank window:\n$plan")
    }
  }

  test("s01 broadcasts the query side; s02 has no cartesian product at all") {
    val p1 = Similarity.bruteForceTopK(embs, queries)
      .queryExecution.executedPlan.toString()
    assert(p1.contains("Broadcast"), s"query side not broadcast:\n$p1")
    val p2 = Similarity.annTopK(embs, queries)
      .queryExecution.executedPlan.toString()
    assert(!p2.contains("CartesianProduct"), s"cartesian in ANN path:\n$p2")
  }

  test("s08 RRF fusion: scores are consistent rank arithmetic, order is fused") {
    val rows = graft.queries.SimilarityQueries.defs("s08_hybrid_rrf")(spark, sfDir)
      .collect()
    assert(rows.length == graft.queries.SimilarityQueries.RrfPool)
    def term(r: org.apache.spark.sql.Row, c: String): Double =
      if (r.isNullAt(r.fieldIndex(c))) 0.0 else 1.0 / (60.0 + r.getAs[Int](c))
    rows.foreach { r =>
      val expect = BigDecimal(term(r, "r_lex") + term(r, "r_vec"))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("rrf") - expect) < 1e-9,
        s"rrf mismatch on $r")
      assert(!(r.isNullAt(r.fieldIndex("r_lex")) && r.isNullAt(r.fieldIndex("r_vec"))),
        "a fused row must come from at least one arm")
    }
    // fused order: rrf descending with doc_id tie-break
    val rrfs = rows.map(r => (-r.getAs[Double]("rrf"), r.getAs[Long]("doc_id")))
    assert(rrfs.sameElements(rrfs.sorted), "output not in fused rank order")
    // both arms actually contribute to the pool
    assert(rows.exists(!_.isNullAt(rows.head.fieldIndex("r_lex"))))
    assert(rows.exists(!_.isNullAt(rows.head.fieldIndex("r_vec"))))
  }

  test("s08 plan: the corpus-sized work stays in the two top-k arms") {
    val plan = graft.queries.SimilarityQueries.defs("s08_hybrid_rrf")(spark, sfDir)
      .queryExecution.executedPlan.toString()
    // vector arm keeps s01's pre-shuffle top-k; no cartesian anywhere;
    // the only unpartitioned window ranks the 20-row lexical pool
    assert(plan.contains("WindowGroupLimit"), s"vector arm lost its top-k:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in fusion:\n$plan")
  }

  test("s10 filtered search returns only qualifying vectors, filter pushed to scan") {
    val df = graft.queries.SimilarityQueries.defs("s10_ann_filtered")(spark, sfDir)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("label"))
    val out = df.join(e, "vec_id").collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Int]("label") == graft.queries.SimilarityQueries.FilteredLabel),
      "a non-qualifying vector leaked through the filter")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(label), EqualTo(label,1)]") ||
      plan.contains("EqualTo(label,1)"),
      s"label predicate must reach the embeddings scan:\n$plan")
  }

  test("s10 recall vs the exact FILTERED ground truth holds at the widened probes") {
    // selectivity thins probed cells, so s10 probes 12 of 16 cells
    // (vs s04's 8) — measured recall@10: 0.92 here, 0.82 at sf0.01
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val approx = graft.queries.SimilarityQueries.defs("s10_ann_filtered")(spark, sfDir)
    val truth = Similarity.bruteForceTopK(
      e.filter(col("label") === graft.queries.SimilarityQueries.FilteredLabel),
      Similarity.defaultQueries(e, 5))
    assert(Similarity.recallAtK(approx, truth) >= 0.8)
  }
}
