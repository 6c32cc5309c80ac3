package graft

import graft.operators.Dedup
import graft.queries.DedupQueries
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("every dedup query runs on sf0.001") {
    DedupQueries.defs.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("d01 exact dedup groups cover all documents") {
    val res = Dedup.exact(docs).agg(sum("n_copies")).head().getLong(0)
    assert(res == docs.count())
  }

  test("d02 minhash candidate pairs are ordered and distinct") {
    val pairs = Dedup.minhashCandidates(docs).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).distinct.length == pairs.length)
  }

  test("d03 simhash is 64 bits and near-dup pairs respect the hamming cap") {
    val s = Dedup.simhashed(docs)
    assert(s.filter(length(col("simhash")) =!= 64).count() == 0)
    val over = Dedup.simhashPairs(docs).filter(col("hamming") > Dedup.MaxHamming).count()
    assert(over == 0)
  }

  test("d04 jaccard values are valid ratios above the threshold") {
    val bad = Dedup.jaccardPairs(docs)
      .filter(col("jaccard") < Dedup.JaccardThreshold || col("jaccard") > 1.0).count()
    assert(bad == 0)
  }

  test("d04/d16 confirm from stored shingle sets: identical pairs, plan reads the artifact") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val shPath = java.nio.file.Files.createTempDirectory("graft_shingle_sets")
      .resolve("idx").toString
    val cands = Dedup.minhashCandidates(docs)
    val freshJ = Dedup.jaccardPairsFrom(docs, cands)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val freshC = Dedup.containmentPairsFrom(docs, cands)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val sets = Dedup.storedShingleSets(docs, shPath)
    val storedJ = Dedup.jaccardPairsFromSets(sets, cands).orderBy("doc_a", "doc_b")
    val storedC = Dedup.containmentPairsFromSets(sets, cands).orderBy("doc_a", "doc_b")
    assert(storedJ.collect().toSeq == freshJ,
      "stored-set jaccard confirm must equal the in-session computation")
    assert(storedC.collect().toSeq == freshC,
      "stored-set containment confirm must equal the in-session computation")
    // the confirm plan reads the COMMITTED artifact (both sides), not
    // a re-shingling of the corpus: the committed table is one row per
    // doc and its files appear in the scan set
    val scanned = storedJ.inputFiles.filter(_.contains("graft_shingle_sets"))
    assert(scanned.nonEmpty, s"expected artifact file scan, got: ${storedJ.inputFiles.toSeq}")
    assert(spark.read.parquet(shPath).count() == docs.count(),
      "committed shingle-set table must carry one row per document")
    // second resolution reuses the committed files (fingerprint match)
    val dir = new java.io.File(shPath)
    def listing = dir.listFiles().map(f => (f.getName, f.lastModified, f.length)).sortBy(_._1).toSeq
    val before = listing
    val again = Dedup.jaccardPairsFromSets(
        Dedup.storedShingleSets(docs, shPath), cands)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(again == freshJ && listing == before,
      "second resolution must serve the committed artifact unchanged")
  }

  test("d16 containment flags an asymmetric near-dup that symmetric jaccard hides") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    // B = A plus extra words: containment(A in B) = 1.0 exactly, while
    // B-in-A stays below 1 — the direction symmetric jaccard cannot
    // express. (Candidates still come from the jaccard-tuned LSH, so
    // the demo keeps overlap inside LSH reach — the documented scope:
    // LOW-jaccard full containment is d10's span machinery's job.)
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val extra = (100 to 104).map(i => s"x$i").mkString(" ")
    val docsDf = Seq((1L, base), (2L, s"$base $extra"), (3L, "zz yy xx ww vv uu"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).as("n_chars"))
    val pairs = Dedup.containmentPairs(docsDf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(pairs.contains((1L, 2L)), s"contained pair not found: $pairs")
    val (aInB, bInA) = pairs((1L, 2L))
    assert(aInB == 1.0, s"full containment must score 1.0, got $aInB")
    assert(bInA < 1.0 && bInA < aInB,
      "asymmetry lost: the large doc is NOT contained in the small one")
    // the unrelated doc never pairs
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("d05 cosine pairs are within [-1, 1] and above threshold") {
    val bad = Dedup.embeddingCosinePairs(embs)
      .filter(col("cos") < Dedup.CosineThreshold || col("cos") > 1.0).count()
    assert(bad == 0)
  }

  test("d06 clusters are a consistent fixpoint over the candidate graph") {
    val labels = Dedup.clusters(docs)
    assert(labels.count() == docs.count(), "every doc gets a cluster label")
    // rep is the component MIN, so rep <= member id everywhere
    assert(labels.filter(col("cluster_rep") > col("doc_id")).count() == 0)
    // reps are fixpoints: a rep's own cluster_rep is itself (is_kept = 1)
    val reps = labels.select(col("cluster_rep").as("doc_id")).distinct()
    val nonFix = labels.join(reps, "doc_id")
      .filter(col("cluster_rep") =!= col("doc_id")).count()
    assert(nonFix == 0, "a cluster rep must map to itself")
    // every candidate edge's endpoints agree on the rep (propagation
    // actually converged — no edge straddles two clusters)
    val l = labels.select(col("doc_id").as("doc_a"), col("cluster_rep").as("rep_a"))
    val r = labels.select(col("doc_id").as("doc_b"), col("cluster_rep").as("rep_b"))
    val straddling = Dedup.minhashCandidates(docs).join(l, "doc_a").join(r, "doc_b")
      .filter(col("rep_a") =!= col("rep_b")).count()
    assert(straddling == 0, "an edge connects two different clusters")
  }

  test("d08 block overlap finds planted shared spans and respects the df cap") {
    import spark.implicits._
    val boiler = ("x" * 64) + ("y" * 64) // two aligned 64-char blocks
    val planted = Seq(
      (1L, boiler + "unique tail one  padded to keep lengths distinct"),
      (2L, boiler + "a completely different continuation of the text"),
      (3L, "no shared content here at all " * 5)).toDF("doc_id", "text")
    val pairs = Dedup.blockOverlapPairs(planted).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(pairs.head.getAs[Long]("shared_blocks") >= 2)
    // ubiquitous blocks are boilerplate, not signal: a block present in
    // EVERY doc of a corpus larger than MaxBlockDf must produce no pairs
    val ubiquitous = (1L to (Dedup.MaxBlockDf + 5).toLong)
      .map(i => (i, boiler + s" doc number $i")).toDF("doc_id", "text")
    assert(Dedup.blockOverlapPairs(ubiquitous).count() == 0)
  }

  test("d10 substring spans: unaligned verbatim spans are found with exact lengths") {
    import spark.implicits._
    val span = (1 to 14).map(i => s"tok$i").mkString(" ") // 14 shared tokens
    val planted = Seq(
      (1L, s"alpha beta gamma $span delta"),           // span at offset 3
      (2L, s"$span omega psi chi phi upsilon zeta"),   // span at offset 0
      (3L, "entirely unrelated words that never overlap with anything else here"))
      .toDF("doc_id", "text")
    val rows = Dedup.substringSpanPairs(planted).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    // 14 shared tokens → 5 consecutive 10-token windows → longest span 14
    assert(rows.head.getAs[Long]("shared_windows") == 5)
    assert(rows.head.getAs[Long]("longest_span") == 14)
    // d08's aligned 64-char blocks cannot see this overlap (docs are
    // shorter than one block) — the two operators are complementary
    assert(Dedup.blockOverlapPairs(planted).count() == 0)
    // boilerplate cap: a window in > MaxWindowDf docs is not a signal
    val ubiquitous = (1L to (Dedup.MaxWindowDf + 5).toLong)
      .map(i => (i, s"$span unique tail token number $i")).toDF("doc_id", "text")
    assert(Dedup.substringSpanPairs(ubiquitous).count() == 0)
  }

  test("d07 decontamination broadcasts the benchmark side and flags only corpus docs") {
    val bench = docs.filter(col("doc_id") < 10)
    val corpus = docs.filter(col("doc_id") >= 10)
    val flagged = Dedup.decontaminate(corpus, bench)
    assert(flagged.filter(col("doc_id") < 10).count() == 0)
    assert(flagged.filter(col("n_shared") < 1).count() == 0)
    val plan = flagged.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark shingle set should broadcast:\n$plan")
    // a doc that IS a benchmark doc must be flagged with every shingle shared
    val selfHit = Dedup.decontaminate(bench.limit(1), bench)
    assert(selfHit.count() == 1)
  }

  test("no dedup plan contains a cartesian product — all pair generation is bucketed") {
    Seq(
      Dedup.minhashCandidates(docs),
      Dedup.simhashPairs(docs),
      Dedup.jaccardPairs(docs),
      Dedup.embeddingCosinePairs(embs)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("CartesianProduct"), s"cartesian product found:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join found:\n$plan")
    }
  }

  test("minhash-identical duplicate text collides in every band") {
    import spark.implicits._
    val two = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(two).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    // and exact dedup folds them into one group
    assert(Dedup.exact(two).count() == 1)
  }

  test("d09 incremental keep: drops batch docs colliding with history or earlier batch docs") {
    import spark.implicits._
    val history = Seq(
      (0L, "the quick brown fox jumps over the lazy dog every single day"),
      (2L, "completely unrelated corpus content about databases and queries")).toDF("doc_id", "text")
    val batch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog every single day"), // dup of history 0
      (13L, "a genuinely fresh document with brand new content and words"),
      (15L, "a genuinely fresh document with brand new content and words"), // dup of batch 13
      (17L, "another novel text that matches nothing else in any corpus")).toDF("doc_id", "text")
    val kept = Dedup.incrementalKeep(Dedup.bandedBuckets(history), batch)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(13L, 17L))
    // and the keep decision is join-based, never a cartesian product
    val plan = Dedup.incrementalKeep(Dedup.bandedBuckets(history), batch)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair-free plan expected:\n$plan")
  }

  test("adaptive sign-LSH width tracks corpus size over integer thresholds") {
    // the TEST-corpus regime stays at the 4-bit floor (sf0.01=500,
    // sf0.1=2000 vectors → byte-identical behavior to the fixed width)
    assert(Dedup.adaptiveSignBits(0) == Dedup.SignBits)
    assert(Dedup.adaptiveSignBits(500) == Dedup.SignBits)
    assert(Dedup.adaptiveSignBits(2000) == Dedup.SignBits)
    // exact integer boundary at target·2^b — no float-log straddling
    assert(Dedup.adaptiveSignBits(Dedup.SignBucketTarget << 4) == 4)
    assert(Dedup.adaptiveSignBits((Dedup.SignBucketTarget << 4) + 1) == 5)
    // the measured scale corpora: sf1=20k → 6 bits, sf10=200k → 9 bits
    assert(Dedup.adaptiveSignBits(20000L) == 6)
    assert(Dedup.adaptiveSignBits(200000L) == 9)
    // capped (and monotonic up to the cap)
    assert(Dedup.adaptiveSignBits(Long.MaxValue) == Dedup.MaxSignBits)
    val widths = (0 to 40).map(p => Dedup.adaptiveSignBits(1L << p))
    assert(widths == widths.sorted && widths.last == Dedup.MaxSignBits)
    // the SQL twin is generated from the same thresholds
    val sql = graft.queries.Ops.sqlAdaptiveSignBits("n")
    assert(sql.contains(s"<= ${Dedup.SignBucketTarget << 4} THEN 4"))
    assert(sql.contains(s"<= ${Dedup.SignBucketTarget << 8} THEN 8"))
    assert(sql.contains(s"ELSE ${Dedup.MaxSignBits} END"))
  }

  test("wider sign-LSH buckets (scale setting) yield a subset of the default pairs") {
    val narrow = Dedup.embeddingCosinePairs(embs, signBits = 4)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide = Dedup.embeddingCosinePairs(embs, signBits = 8)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide.subsetOf(narrow))
  }

  test("d11 span decontamination recovers exact span lengths and counts") {
    import spark.implicits._
    // benchmark doc 0 = 12 known tokens; corpus doc 10 embeds them
    // verbatim (w=10 → 3 consecutive shared windows → span = 12 tokens)
    // in two places separated by fresh text; doc 11 shares nothing
    val benchTokens = (1 to 12).map(i => s"bench$i").mkString(" ")
    val fresh = (1 to 15).map(i => s"fresh$i").mkString(" ")
    val other = (1 to 15).map(i => s"other$i").mkString(" ")
    val docs = Seq(
      (0L, benchTokens),
      (10L, s"$fresh $benchTokens $other $benchTokens $fresh"),
      (11L, s"$other $fresh")).toDF("doc_id", "text")
    val res = Dedup.spanDecontaminate(
        corpus = docs.filter(col("doc_id") >= 10), benchmark = docs.filter(col("doc_id") < 10))
      .collect()
    assert(res.length == 1 && res.head.getLong(0) == 10L, "only doc 10 is contaminated")
    assert(res.head.getAs[Long]("n_spans") == 2)
    assert(res.head.getAs[Long]("longest_span") == 12)
    assert(res.head.getAs[Long]("shared_windows") == 6) // 3 windows x 2 spans
  }

  test("d11 plan broadcasts the benchmark and never shuffles the corpus by hash") {
    val d = docs
    val df = Dedup.spanDecontaminate(
      corpus = d.filter(col("doc_id") >= DedupQueries.BenchmarkDocs),
      benchmark = d.filter(col("doc_id") < DedupQueries.BenchmarkDocs))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), "benchmark side must broadcast")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not shuffle on the window hash:\n$plan")
    df.write.format("noop").mode("overwrite").save() // runs end-to-end on real docs
  }

  test("d12 semantic dedup labels every vector; removal evidence is a lower-id same-cell partner") {
    import graft.operators.Similarity
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val e = embs
    val cents = Similarity.kmeansCentroids(e)
    val res = Dedup.semanticDedup(e, cents)
    assert(res.count() == e.count(), "one verdict per vector")
    // independent recomputation of the evidence: per-pair cosine from
    // raw vectors (Dedup.cosine recomputes norms per pair — a different
    // arithmetic path than the operator's prepared norms)
    val assigned = Similarity.assignCells(Similarity.preparedCorpus(e), cents)
      .select(col("vec_id"), col("v"), col("cell"))
    val witnessed = assigned.as("l").join(assigned.as("r"),
        col("l.cell") === col("r.cell") && col("l.vec_id") < col("r.vec_id"))
      .filter(round(Dedup.cosine(col("l.v"), col("r.v")), 6) >= Dedup.SemThreshold)
      .select(col("r.vec_id").as("vec_id")).distinct()
    val removed = res.filter(col("is_kept") === 0).select("vec_id")
    assert(removed.except(witnessed).isEmpty && witnessed.except(removed).isEmpty,
      "removed set == vectors with a lower-id near-partner in their cell")
    // the lowest vec_id of every cell can have no lower-id partner
    val cellMins = res.groupBy("cell").agg(min("vec_id").as("vec_id"))
    assert(res.join(cellMins, Seq("cell", "vec_id")).filter(col("is_kept") === 0).count() == 0)
    // an impossible threshold keeps everything
    assert(Dedup.semanticDedup(e, cents, threshold = 1.1)
      .filter(col("is_kept") === 0).count() == 0)
  }

  test("d12 adaptive cell count doubles over integer thresholds; stored assignments match a fresh run") {
    import graft.operators.Similarity
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // test-corpus regime stays at the 16-cell floor (byte-identical to
    // the fixed-count behavior the oracle has always replayed)
    assert(Similarity.adaptiveCells(0) == Similarity.NCentroids)
    assert(Similarity.adaptiveCells(500) == Similarity.NCentroids)
    assert(Similarity.adaptiveCells(Similarity.SemCellTarget * 16) == 16)
    assert(Similarity.adaptiveCells(Similarity.SemCellTarget * 16 + 1) == 32)
    // the measured scale corpora: sf1 = 20k → 64 cells, sf10 = 200k → 512
    assert(Similarity.adaptiveCells(20000L) == 64)
    assert(Similarity.adaptiveCells(200000L) == 512)
    assert(Similarity.adaptiveCells(Long.MaxValue) == Similarity.MaxSemCells)
    // stored assignment artifact == in-session train+assign, and d12
    // over it == d12 over the fresh assignment
    val e = embs
    val path = java.nio.file.Files.createTempDirectory("graft_sem_idx")
      .resolve("idx").toString
    val stored = Similarity.storedSemanticAssignments(e, path)
    val fresh = Similarity.semanticAssignments(e,
      Similarity.adaptiveCells(e.count()))
    assert(stored.select("vec_id", "cell").orderBy("vec_id").collect().toSeq ==
      fresh.select("vec_id", "cell").orderBy("vec_id").collect().toSeq)
    assert(Dedup.semanticDedupAssigned(stored).orderBy("vec_id").collect().toSeq ==
      Dedup.semanticDedupAssigned(fresh).orderBy("vec_id").collect().toSeq)
  }

  test("d13 bloom decontamination equals the exact broadcast form; probe is in the plan") {
    import graft.functions.TextFunctions.words
    val d = docs
    val bench = d.filter(col("doc_id") < DedupQueries.BenchmarkDocs)
    val corpus = d.filter(col("doc_id") >= DedupQueries.BenchmarkDocs)
    val viaBloom = Dedup.bloomDecontaminate(corpus, bench)
    // exact twin at the same shingle width, no bloom anywhere
    def sh(dd: org.apache.spark.sql.DataFrame) = dd.select(col("doc_id"),
      graft.functions.ShingleExplode.shingleExplode(
        words(col("text")), Dedup.BloomShingleK).as("sh"))
    val exact = sh(corpus)
      .join(broadcast(sh(bench).select("sh").distinct()), "sh")
      .groupBy("doc_id").agg(countDistinct(col("sh")).as("n_shared"))
    assert(viaBloom.except(exact).isEmpty && exact.except(viaBloom).isEmpty,
      "the bloom prefilter must be semantically transparent")
    val plan = viaBloom.queryExecution.optimizedPlan.toString()
    assert(plan.contains("might_contain"), s"bloom probe missing from plan:\n$plan")
  }

  test("bloom probe admits every inserted key (no false negatives)") {
    import graft.functions.BloomFilters
    val vals = spark.range(0, 5000)
      .select(concat(lit("key-"), col("id")).as("k"))
    val bloom = BloomFilters.bloomOf(vals, "k")
    assert(vals.filter(!BloomFilters.mightContain(bloom, col("k"))).count() == 0)
    // and it does filter: disjoint probes mostly miss (fp rate ~1%, be lax)
    val miss = spark.range(0, 5000)
      .select(concat(lit("other-"), col("id")).as("k"))
      .filter(BloomFilters.mightContain(bloom, col("k"))).count()
    assert(miss < 500, s"bloom rejects almost all non-members, passed $miss")
  }

  test("simhashArray: the stateless expression form is value-identical to simhashed") {
    val fromAgg = Dedup.simhashed(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val fromArr = Dedup.simhashArray(docs)
      .select(col("doc_id"), col("simhash"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    // every doc with a signature row agrees bit-for-bit; docs WITHOUT
    // a signature row (no shingles) are exactly the NULL-simhash docs
    fromArr.foreach { case (id, sig) =>
      assert(sig == fromAgg.get(id),
        s"doc $id: expression simhash $sig != aggregate ${fromAgg.get(id)}")
    }
    assert(fromArr.size == docs.count(),
      "simhashArray must pass every doc row through")
    // and the string-derived prefix equals the stored index's parsed-half key
    val viaString = Dedup.simhashed(docs)
      .select(col("doc_id"), Dedup.simhashPrefixOf(col("simhash")).as("p"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaIndex = Dedup.simhashIndexPrefixes(Dedup.simhashed(docs))
      .collect().map(_.getLong(0)).toSet
    assert(viaString.map(_._2) == viaIndex,
      "prefix-of-string must occupy exactly the index's prefix buckets")
  }

  test("bandHashArray: the stateless array form is value-identical to bandedBuckets") {
    val fromAgg = Dedup.bandedBuckets(docs).select("doc_id", "bh")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val fromArr = Dedup.bandHashArray(docs)
      .select(col("doc_id"), explode(col("bhs")).as("bh"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(fromArr == fromAgg,
      "array_min lexicographic signature must equal MinhashAgg's raw-byte min")
  }

  test("stored cluster labels: committed once, reused untouched, value-identical") {
    implicit val s = spark
    val root = java.nio.file.Files.createTempDirectory("graft_clu").toString
    val path = s"$root/dedup_clusters/test"
    def state = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(st =>
        (st.getPath.getName, st.getLen, st.getModificationTime)).toSeq.sortBy(_._1)
    }
    Dedup.storedClusters(docs, path)
    val committed = state
    assert(committed.exists(_._1 == "_SUCCESS"), "label commit incomplete")
    val second = Dedup.storedClusters(docs, path)
    assert(state == committed,
      "second resolution modified the committed labels — it re-propagated")
    val fresh = Dedup.clusters(docs).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val served = second.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(served == fresh, "stored labels diverge from a fresh resolution")
  }

  test("d14 CDC chunks reconstruct every document exactly") {
    val rebuilt = Dedup.cdcChunks(docs)
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("chunk")))),
        s => s.getField("chunk")), " ").as("rebuilt"))
    val bad = docs.select(col("doc_id"), lower(col("text")).as("orig"))
      .join(rebuilt, "doc_id")
      .filter(col("orig") =!= col("rebuilt")).count()
    assert(bad == 0, "chunking must partition the word sequence losslessly")
  }

  test("d14 chunk boundaries re-sync after a prefix insertion (the CDC property)") {
    val one = docs.orderBy("doc_id").limit(1).select("doc_id", "text")
    val edited = one.select(col("doc_id"),
      concat(lit("zzinserted "), col("text")).as("text"))
    def chunksOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.cdcChunks(df).orderBy("pos").collect().map(_.getAs[String]("chunk")).toSeq
    val orig = chunksOf(one)
    val ed = chunksOf(edited)
    // a fixed-stride shingle scheme would shift EVERY window; CDC loses
    // at most the chunk containing the edit point
    assert(orig.drop(1).forall(ed.contains),
      s"chunks after the edit must re-sync:\norig=$orig\nedited=$ed")
  }

  test("d14 dup report rows are cross-doc, min-width chunks") {
    val rep = Dedup.cdcChunkDups(docs)
    assert(rep.count() > 0, "planted duplicates must share chunks")
    assert(rep.filter(col("n_docs") < 2 ||
      col("n_copies") < col("n_docs") ||
      col("first_doc").isNull).count() == 0)
    assert(rep.filter(
      size(split(col("chunk"), " ")) < Dedup.MinChunkWords).count() == 0)
  }

  test("d14 chunking is map-side: the only exchange is the chunk groupBy") {
    val plan = Dedup.cdcChunkDups(docs).queryExecution.executedPlan.toString()
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, // partial + final agg of one groupBy under AQE
      s"CDC dedup must shuffle only on chunk content:\n$plan")
    assert(!plan.contains("Window"), s"no per-doc window allowed:\n$plan")
  }

  private def mkDocs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).as("n_chars"))
  }

  test("d17 keeps the first occurrence of a repeated segment and rewrites later docs") {
    // doc 1: segments A B; doc 2: segments A C (A repeats — doc 2 loses
    // it); doc 3: B then a 3-token tail (tail below MinSegTokens is
    // always kept even though it never "first-occurred" anywhere)
    val segA = (1 to 10).map(i => s"a$i").mkString(" ")
    val segB = (1 to 10).map(i => s"b$i").mkString(" ")
    val segC = (1 to 10).map(i => s"c$i").mkString(" ")
    val tail = "t1 t2 t3"
    val out = Dedup.segmentDedup(mkDocs(Seq(
        1L -> s"$segA $segB", 2L -> s"$segA $segC", 3L -> s"$segB $tail")))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 2L, s"$segA $segB")), s"doc 1 keeps both: ${out(1L)}")
    assert(out(2L) == ((2L, 1L, segC)), s"doc 2 loses A, keeps C in order: ${out(2L)}")
    assert(out(3L) == ((2L, 1L, tail)), s"doc 3 loses B, tail survives: ${out(3L)}")
  }

  test("d17 rewrite empties a verbatim duplicate of full segments") {
    val segA = (1 to 10).map(i => s"a$i").mkString(" ")
    val segB = (1 to 10).map(i => s"b$i").mkString(" ")
    val out = Dedup.segmentDedup(mkDocs(Seq(
        1L -> s"$segA $segB", 2L -> s"$segA $segB")))
      .orderBy("doc_id").collect()
    assert(out(0).getString(3) == s"$segA $segB")
    assert(out(1).getLong(2) == 0L && out(1).getString(3) == "",
      s"the later verbatim copy must empty out: ${out(1)}")
  }

  test("d17 incremental: history drops, batch keep-first holds, tails survive, admission is idempotent") {
    val segA = (1 to 10).map(i => s"a$i").mkString(" ")
    val segB = (1 to 10).map(i => s"b$i").mkString(" ")
    val segC = (1 to 10).map(i => s"c$i").mkString(" ")
    val tail = "t1 t2"
    val history = Dedup.segmentHashes(mkDocs(Seq(1L -> s"$segA $segC")))
    // batch doc 10: A (in history → dropped) + B (fresh → kept);
    // doc 11: B again (batch-first is doc 10 → dropped) + tail (kept)
    val batch = mkDocs(Seq(10L -> s"$segA $segB", 11L -> s"$segB $tail"))
    val out = Dedup.segmentDedupIncremental(history, batch)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(10L) == ((1L, segB)), s"doc 10 drops history A, keeps fresh B: ${out(10L)}")
    assert(out(11L) == ((1L, tail)), s"doc 11 loses B to doc 10, tail survives: ${out(11L)}")
    // idempotence: append the admitted hashes, re-admit the REWRITTEN
    // output — nothing further drops
    val updated = history.unionAll(Dedup.segmentHashes(
      mkDocs(Seq(10L -> segB)))).distinct()
    val again = Dedup.segmentDedupIncremental(updated,
        mkDocs(Seq(20L -> segB)))
      .collect().head
    assert(again.getLong(2) == 0L && again.getString(3) == "",
      s"already-admitted segment must not re-admit: $again")
  }

  test("d17 keep-decision aggregate combines map-side (skew lives in the join, not the min)") {
    val plan = Dedup.segmentDedup(docs).queryExecution.executedPlan.toString()
    // partial_min before the exchange on the segment-hash groupBy: a
    // corpus-wide boilerplate segment reaches its reducer pre-combined
    assert(plan.contains("partial_min") || plan.contains("partial_count"),
      s"keep-first min must have a map-side partial:\n$plan")
    assert(!plan.contains("Window"), s"no unbounded per-hash window allowed:\n$plan")
  }

  test("corpusRowCount: repeat resolution is job-free; filtered frames never share a count") {
    val n = embs.count()
    // first resolution may pay the one fingerprint-keyed count job
    assert(Dedup.corpusRowCount(embs) == n)
    // construct the fresh frame BEFORE listening: read.parquet itself
    // runs a schema-inference job, which is not what this test gates
    val again = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val jobs = jobCounts {
      // a FRESH frame over the same files resolves from the cache
      assert(Dedup.corpusRowCount(again) == n)
      // and d05 construction itself (the original count() call site)
      // no longer runs any job at plan-construction time
      Dedup.embeddingCosinePairs(again)
    }.jobs
    assert(jobs == 0, s"cached corpus count still ran $jobs job(s)")
    // a filtered frame has a different canonicalized plan: its count is
    // keyed separately, never served from the full-corpus entry
    val half = embs.filter(col("vec_id") % 2 === 0)
    val halfN = half.count()
    assert(halfN != n && Dedup.corpusRowCount(half) == halfN)
  }

  test("d02 stored band index: identical candidates; jaccard/containment confirm over it unchanged") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val idxPath = java.nio.file.Files.createTempDirectory("graft_band_idx")
      .resolve("idx").toString
    val direct = Dedup.minhashCandidates(docs).orderBy("doc_a", "doc_b").collect().toSeq
    val stored = Dedup.minhashCandidatesStored(docs, idxPath)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(stored == direct, "stored-index candidates must equal the direct computation")
    val cand = Dedup.minhashCandidatesStored(docs, idxPath)
    assert(Dedup.jaccardPairsFrom(docs, cand).orderBy("doc_a", "doc_b").collect().toSeq ==
      Dedup.jaccardPairs(docs).orderBy("doc_a", "doc_b").collect().toSeq)
    assert(Dedup.containmentPairsFrom(docs, cand).orderBy("doc_a", "doc_b").collect().toSeq ==
      Dedup.containmentPairs(docs).orderBy("doc_a", "doc_b").collect().toSeq)
    // the committed index is the banded-bucket table itself — d09's
    // incremental admission can probe the same rows
    val idx = spark.read.parquet(idxPath)
    assert(idx.columns.toSet == Set("doc_id", "band_idx", "bh"))
    // per-doc generation commutes with a doc filter: the stored index
    // filtered to a slice IS that slice's band table, so d09's history
    // side can read committed rows instead of re-deriving signatures
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    assert(Dedup.incrementalKeep(idx.filter(col("doc_id") % 2 === 0), batch)
        .orderBy("doc_id").collect().toSeq ==
      Dedup.incrementalKeep(Dedup.bandedBuckets(evens), batch)
        .orderBy("doc_id").collect().toSeq)
  }

  test("d03 stored simhash index: identical pairs, artifact reused untouched") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val idxPath = java.nio.file.Files.createTempDirectory("graft_simhash_idx")
      .resolve("idx").toString
    val direct = Dedup.simhashPairs(docs).orderBy("doc_a", "doc_b").collect().toSeq
    val stored = Dedup.simhashPairsStored(docs, idxPath)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(stored == direct, "stored-index pairs must equal the direct computation")
    // the committed index is the signature table itself — one 64-char
    // signature per shingled doc, the rows d18's admission probes
    val idx = spark.read.parquet(idxPath)
    assert(idx.columns.toSet == Set("doc_id", "simhash"))
    assert(idx.select(length(col("simhash"))).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(64))
    // second resolution reuses the committed files (fingerprint match —
    // no rebuild): the artifact's file listing is byte-identical after
    val dir = new java.io.File(idxPath)
    def listing = dir.listFiles().map(f => (f.getName, f.lastModified, f.length)).sortBy(_._1).toSeq
    val before = listing
    val again = Dedup.simhashPairsStored(docs, idxPath)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(again == direct && listing == before,
      "second resolution must serve the committed artifact unchanged")
    // per-doc signatures commute with a doc filter: the stored index
    // filtered to a slice serves d18's history side unchanged
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    assert(Dedup.simhashIncrementalKeep(idx.filter(col("doc_id") % 2 === 0), batch)
        .orderBy("doc_id").collect().toSeq ==
      Dedup.simhashIncrementalKeep(Dedup.simhashed(evens), batch)
        .orderBy("doc_id").collect().toSeq)
  }

  test("d18 simhash incremental: history and earlier-batch near-dups reject; admission is idempotent") {
    import spark.implicits._
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val textB = "one two three four five six seven eight nine ten eleven twelve"
    val textC = "red orange yellow green blue indigo violet cyan magenta teal maroon olive"
    val history = Seq((0L, textA)).toDF("doc_id", "text")
    val historySigs = Dedup.simhashed(history)
    val batch = Seq(
      (11L, textA), // verbatim dup of history (hamming 0): rejected
      (13L, textB), // fresh: admitted
      (15L, textB), // verbatim dup of earlier batch doc 13: rejected
      (17L, textC), // fresh: admitted
      (19L, "ab")   // < ShingleK words: no signature, admitted (a gate
                    //   can't hold what it can't fingerprint)
    ).toDF("doc_id", "text")
    val kept = Dedup.simhashIncrementalKeep(historySigs, batch)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(13L, 17L, 19L), s"got $kept")
    // idempotence: append the admitted docs' signatures, re-admitting
    // the same text must now reject
    val updated = historySigs.unionAll(Dedup.simhashed(
      batch.filter(col("doc_id") === 13L)))
    val reKept = Dedup.simhashIncrementalKeep(updated,
        Seq((23L, textB)).toDF("doc_id", "text"))
      .count()
    assert(reKept == 0, "already-admitted text must not re-admit")
    // prefix-bucketed semi-joins, never a cartesian product
    val plan = Dedup.simhashIncrementalKeep(historySigs, batch)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair-free plan expected:\n$plan")
  }

  test("d10 stored span index: identical pairs, df=1 rows pruned, artifact reused") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val direct = Dedup.substringSpanPairs(docs).orderBy("doc_a", "doc_b")
      .collect().toSeq
    val idxPath = java.nio.file.Files.createTempDirectory("graft_span_idx")
      .resolve("idx").toString
    val stored = Dedup.substringSpanPairsStored(docs, idxPath)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(stored == direct, "stored-index pairs must equal the direct computation")
    // the committed index holds ONLY pairable rows: every stored hash
    // spans >= 2 distinct docs (df=1 windows can never produce a pair,
    // so dropping them is free — and it is most of the window table)
    val idx = spark.read.parquet(idxPath)
    val loners = idx.select(col("doc_id"), col("wh")).distinct()
      .groupBy("wh").agg(count(lit(1)).as("d")).filter(col("d") < 2).count()
    assert(loners == 0, "index must not store unpairable (df=1) windows")
    assert(idx.count() < Dedup.tokenWindows(docs).count(),
      "index must be smaller than the raw window table")
    // second resolution reuses the committed files (fingerprint match —
    // no rebuild): the artifact's file listing is byte-identical after
    val dir = new java.io.File(idxPath)
    def listing = dir.listFiles().map(f => (f.getName, f.lastModified, f.length)).sortBy(_._1).toSeq
    val before = listing
    val again = Dedup.substringSpanPairsStored(docs, idxPath)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(again == direct && listing == before,
      "second resolution must serve the committed artifact unchanged")
  }

  test("d11 from the stored full window table: identical report; narrower products project from it") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val twPath = java.nio.file.Files.createTempDirectory("graft_token_wins")
      .resolve("idx").toString
    val bench = docs.filter(col("doc_id") < DedupQueries.BenchmarkDocs)
    val corpus = docs.filter(col("doc_id") >= DedupQueries.BenchmarkDocs)
    val direct = Dedup.spanDecontaminate(corpus, bench).orderBy("doc_id").collect().toSeq
    val wins = Dedup.storedTokenWindows(docs, twPath)
    val stored = Dedup.spanDecontaminateFrom(
        wins.filter(col("doc_id") >= DedupQueries.BenchmarkDocs), bench)
      .orderBy("doc_id").collect().toSeq
    assert(stored == direct, "stored-window report must equal the direct computation")
    // the committed table is the FULL (df-uncapped) window set —
    // exactly tokenWindows' rows, nothing pruned
    assert(spark.read.parquet(twPath).count() == Dedup.tokenWindows(docs).count())
    // the pairable span index built by PROJECTING the committed windows
    // is row-identical to one built from the raw corpus
    val spPath = java.nio.file.Files.createTempDirectory("graft_span_from_wins")
      .resolve("idx").toString
    val projected = Dedup.storedSpanIndexFrom(docs, twPath, spPath)
      .orderBy("doc_id", "pos", "wh").collect().toSeq
    assert(projected ==
      Dedup.pairableWindows(docs).orderBy("doc_id", "pos", "wh").collect().toSeq)
    // the ingest-gate hash set projects from the same artifact
    assert(Dedup.windowHashesFrom(wins).orderBy("wh").collect().toSeq ==
      Dedup.windowHashes(docs).orderBy("wh").collect().toSeq)
  }

  test("d10 incremental span gate: history and earlier-batch spans reject; fresh docs admit") {
    import spark.implicits._
    val span = (1 to 14).map(i => s"tok$i").mkString(" ")
    val fresh = (1 to 12).map(i => s"f$i").mkString(" ")
    val novel = (1 to 12).map(i => s"n$i").mkString(" ")
    val history = Seq((0L, s"prefix words here $span trailing")).toDF("doc_id", "text")
    val historyIdx = Dedup.windowHashes(history)
    val batch = Seq(
      (11L, s"$span entirely different tail words one two three"), // span hits history
      (13L, fresh),                                                // fresh: admitted
      (15L, s"$fresh plus a few extra words"),                     // shares fresh's windows with 13
      (17L, novel),                                                // admitted
      (19L, "too short")                                           // < w tokens: no windows, admitted
    ).toDF("doc_id", "text")
    val kept = Dedup.spanIncrementalKeep(historyIdx, batch)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(13L, 17L, 19L), s"got $kept")
    // idempotence: append the admitted docs' hashes, re-admitting the
    // same span must now reject
    val updated = historyIdx.unionAll(Dedup.windowHashes(
      batch.filter(col("doc_id") === 13L))).distinct()
    val reKept = Dedup.spanIncrementalKeep(updated,
        Seq((23L, fresh)).toDF("doc_id", "text"))
      .count()
    assert(reKept == 0, "already-admitted span must not re-admit")
    // join-based keep decision, never a cartesian product
    val plan = Dedup.spanIncrementalKeep(historyIdx, batch)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair-free plan expected:\n$plan")
  }

  test("segment keep-code raises on seg_idx overflow instead of colliding across docs") {
    import spark.implicits._
    val ok = Seq((3L, 7)).toDF("doc_id", "seg_idx")
      .select(Dedup.segKeepCode(col("doc_id"), col("seg_idx"))).head().getLong(0)
    assert(ok == 3L * Dedup.SegCodeBase + 7)
    val ex = intercept[Exception] {
      Seq((1L, Int.MaxValue)).toDF("doc_id", "seg_idx")
        .select(Dedup.segKeepCode(col("doc_id"), col("seg_idx"))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("overflows keep-code base")),
      s"expected the overflow guard, got: ${messages(ex).mkString(" | ")}")
  }
}
