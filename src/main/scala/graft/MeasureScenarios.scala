package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.DecimalType

import graft.Measure.{bestSecs, intArg, json, noop, secs}
import graft.operators.{Dedup, EventAnalytics, Multimodal, Profile, Similarity, Splits}
import graft.sources.TableLayout
import graft.streaming.{Event, EventStreams}

/** The named measurements SCALE.md records (and explains), run as
  * `graft.Measure scenario <name> [args]` on Measure's session over the
  * corpus at `SPARK_GRAFT_SF_DIR`. Each prints one JSON line per
  * measurement.
  *
  *  - `scale [factor=20]`: heavy pipeline operators on a replicated corpus
  *  - `recall [factor=20]`: ANN recall@10 vs exact search
  *  - `skew`: skew defences on GenScale's hot-key corpus
  *  - `soak [seconds=180] [rowsPerSecond=2000]`: streaming state plateau
  *  - `lifecycle [factor=20]`: manifest-table merge and vacuum
  *  - `semdedup [k ...]`: the SemDeDup cluster-count dial
  *  - `decode`: per-modality media decode cost
  *  - `merge-split`: x07/x08 snapshot writes vs their query
  *  - `bucketed [query ...]`: h-queries on a co-bucketed layout
  */
object MeasureScenarios {
  val all: Map[String, (SparkSession, String, Seq[String]) => Unit] = Map(
    "scale" -> scale _, "recall" -> recall _, "skew" -> skew _, "soak" -> soak _,
    "lifecycle" -> lifecycle _, "semdedup" -> semDedup _, "decode" -> decode _,
    "merge-split" -> mergeSplit _, "bucketed" -> bucketed _)

  /** `factor` copies of `df`, `idCol` shifted 1e7 apart per copy. With
    * `saltCol`, odd copies get a salted (unique) text and even copies
    * stay verbatim, so duplicate groups grow (factor/2)-way — the way a
    * crawled corpus's bucket populations and pair counts grow. */
  private def replicate(df: DataFrame, factor: Int, idCol: String,
      saltCol: Option[String] = None): DataFrame =
    (0 until factor).map { i =>
      val shifted = df.withColumn(idCol, col(idCol) + lit(i * 10000000L))
      saltCol match {
        case Some(t) if i % 2 == 1 => shifted.withColumn(t, concat(lit(s"salt$i "), col(t)))
        case _ => shifted
      }
    }.reduce(_ unionAll _)

  /** Runtime growth of the heavy pipeline operators with input — the
    * local stand-in for the 100 TB question. */
  private def scale(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    val factor = intArg(args, 0, 20)
    val docs = replicate(
      spark.read.parquet(s"$sfDir/documents.parquet"), factor, "doc_id", Some("text"))
    val embs = replicate(spark.read.parquet(s"$sfDir/embeddings.parquet"), factor, "vec_id")
    def op(name: String)(df: => DataFrame): Unit = {
      val (rows, sec) = secs(df.count())
      json("op" -> name, "rows" -> rows, "sec" -> sec)
    }
    json("factor" -> factor, "docs" -> docs.count(), "vectors" -> embs.count())
    op("d01_exact")(Dedup.exact(docs))
    op("d02_minhash_candidates")(Dedup.minhashCandidates(docs))
    op("d03_simhash_pairs")(Dedup.simhashPairs(docs))
    op("d05_embcos_pairs")(Dedup.embeddingCosinePairs(embs, signBits = 8))
    op("d06_clusters")(Dedup.clusters(docs))
    op("d08_block_overlap")(Dedup.blockOverlapPairs(docs))
    op("d10_substring_pairs")(Dedup.substringSpanPairs(docs))
    op("s01_topk")(Similarity.bruteForceTopK(embs, Similarity.defaultQueries(embs)))
    op("s03_ivf_topk")(Similarity.ivfTopK(embs, Similarity.defaultQueries(embs)))
    // d09: admit the odd half as a new batch against the even half's
    // stored band index — the continuous-ingest shape
    op("d09_incremental_keep")(Dedup.incrementalKeep(
      Dedup.bandedBuckets(docs.filter(col("doc_id") % 2 === 0)),
      docs.filter(col("doc_id") % 2 === 1)))
    // p05: shard packing via the blocked prefix sum
    op("p05_pack_shards")(Splits.packShards(
      docs.select(col("doc_id"), col("text")), col("doc_id"),
      graft.functions.TextFunctions.wsTokenCount(col("text")),
      budget = 5000L, blockSize = 10000L))
  }

  /** recall@10 of each approximate search path vs s01's exact top-k.
    * Copies are verbatim, so true neighbours include exact duplicates
    * an ANN path finds only if its cell routing is consistent. */
  private def recall(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    val factor = intArg(args, 0, 20)
    val embs = replicate(spark.read.parquet(s"$sfDir/embeddings.parquet"), factor, "vec_id")
    val queries = Similarity.defaultQueries(embs).cache()
    json("factor" -> factor, "vectors" -> embs.count())
    val truth = Similarity.bruteForceTopK(embs, queries).cache()
    truth.count() // materialize ground truth once
    def row(op: String, param: String, v: Int)(df: => DataFrame): Unit = {
      val (r, sec) = secs(Similarity.recallAtK(df, truth))
      json("op" -> op, param -> v, "recall_at_10" -> r, "sec" -> sec)
    }
    Seq(1, 2, 4).foreach(p =>
      row("s02_lsh", "probes", p)(Similarity.annTopK(embs, queries, probes = p)))
    Seq(1, 4, 8).foreach(p =>
      row("s03_ivf_firstN", "nProbe", p)(Similarity.ivfTopK(embs, queries, nProbe = p)))
    val trained = Similarity.kmeansCentroids(embs).cache()
    trained.count()
    Seq(1, 4, 8).foreach(p =>
      row("s04_ivf_kmeans", "nProbe", p)(Similarity.ivfTopKWith(
        Similarity.preparedCorpus(embs), trained, queries, nProbe = p)))
  }

  val NSalts = 16

  /** Exact COUNT(DISTINCT value) per user in two phases: group by
    * (user, hash(value) % NSalts), then re-merge. A hot user spreads over
    * NSalts reducers, and equal values always share a salt bucket. */
  def saltedDistinctPerUser(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), pmod(hash(col("value")), lit(NSalts)).as("salt"))
      .agg(count_distinct(col("value")).as("pd"))
      .groupBy("user_id")
      .agg(sum(col("pd")).as("n_distinct"))

  /** The one-phase baseline: every hot-user row meets on ONE reducer. */
  def naiveDistinctPerUser(events: DataFrame): DataFrame =
    events.groupBy("user_id").agg(count_distinct(col("value")).as("n_distinct"))

  /** AQE skew gates scaled to the local corpus: after column pruning
    * and shuffle compression the hot partition is single-digit MB, and
    * at the default 256 MB gate the skew handling a 100 TB run relies on
    * would sit idle. Production keeps the defaults. */
  val SkewConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.shuffle.partitions" -> "32",
    // at 100 TB neither fact table broadcasts; locally the pruned orders
    // projection fits under the 10 MB threshold and Catalyst would
    // broadcast it, dissolving the shuffle join under test
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** The skew defences vs naive baselines on GenScale's sf1skew corpus
    * (one orderkey ~20 % of lineitem, one user ~20 % of events). */
  private def skew(spark: SparkSession, dir: String, args: Seq[String]): Unit = {
    SkewConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    def tbl(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    def timed(op: String)(df: => DataFrame): Unit = json("op" -> op, "sec" -> bestSecs(noop(df)))

    // same join + thresholds as SkewScaleSpec, measured instead of asserted
    def hotJoin(): DataFrame =
      tbl("lineitem").join(tbl("orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(sum(col("l_quantity").cast(DecimalType(28, 4))).cast("double").as("sum_qty"),
          count(lit(1)).as("cnt"))
    val planned = hotJoin()
    planned.collect() // finalizes THIS plan's AQE stages (3 rows)
    json("op" -> "join_skew_plan",
      "skew_split_applied" -> planned.queryExecution.executedPlan.toString.contains("skew=true"))
    timed("join_skew_aqe_on")(hotJoin())
    Measure.withConfs(spark, Seq("spark.sql.adaptive.skewJoin.enabled" -> "false"))(
      timed("join_skew_aqe_off")(hotJoin()))

    // q38 vs q44 on the hot-user corpus: the uncapped interval join's
    // output grows quadratically in the hot key's rate; the capped
    // variant bounds it at AttributionCap × clicks
    val evRaw = tbl("events")
    val evJ = evRaw.withColumn("ts", graft.queries.Ops.normalizeEventTs(evRaw))
    val clicks = evJ.filter(col("event_type") === "click")
    val purchases = evJ.filter(col("event_type") === "purchase")
    json("op" -> "attribution_join_rows",
      "uncapped" -> EventStreams.clickPurchaseJoin(clicks, purchases).count(),
      "capped" -> EventStreams.clickPurchaseJoinCapped(clicks, purchases).count())

    val ev = tbl("events")
    timed("distinct_naive")(naiveDistinctPerUser(ev))
    timed("distinct_salted")(saltedDistinctPerUser(ev))
    // the quantity that kills the naive plan at 100 TB is the hot
    // REDUCER's load (its distinct-set must fit one task's memory):
    // max rows per reducer under both shuffle keys
    def maxReducerRows(keys: Column*): Long =
      ev.repartition(32, keys: _*)
        .mapPartitions(it => Iterator.single(it.size))(Encoders.scalaInt)
        .toDF("n").agg(max(col("n"))).first().getInt(0).toLong
    json("op" -> "distinct_reducer_rows", "naive_max" -> maxReducerRows(col("user_id")),
      "salted_max" -> maxReducerRows(col("user_id"), pmod(hash(col("value")), lit(NSalts))))
    // exactness: the salted plan must agree with the naive one
    json("op" -> "distinct_salted_check", "mismatches" -> saltedDistinctPerUser(ev).as("s")
      .join(naiveDistinctPerUser(ev).as("n"), Seq("user_id"))
      .filter(col("s.n_distinct") =!= col("n.n_distinct")).count())

    // q47's documented worst case: one task sorts and folds the hot
    // user's whole slice. Measured against the oracle's shape — k
    // co-partitioned sequential aggregates with O(1) state per user —
    // and both must agree exactly.
    val steps = EventAnalytics.FunnelSteps
    def funnelFold() = EventAnalytics.funnel(
      evJ, steps, col("user_id"), col("ts"), col("event_type"))
    def kAggCounts(): Seq[Long] = {
      val base = evJ.filter(col("event_type").isin(steps: _*))
        .select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_type"))
      var reached = base.filter(col("event_type") === steps.head)
        .groupBy("user_id").agg(min(col("t")).as("at"))
      val out = scala.collection.mutable.Buffer(reached.count())
      steps.drop(1).foreach { s =>
        reached = base.filter(col("event_type") === s)
          .join(reached, "user_id")
          .filter(col("t") > col("at"))
          .groupBy("user_id").agg(min(col("t")).as("at"))
        out += reached.count()
      }
      out.toSeq
    }
    timed("funnel_fold_hot_user")(funnelFold())
    val (kCounts, kSec) = secs(kAggCounts())
    json("op" -> "funnel_kagg_hot_user", "sec" -> kSec)
    val foldCounts = funnelFold().orderBy("stage").collect().map(_.getLong(1)).toSeq
    json("op" -> "funnel_skew_check", "agree" -> (foldCounts == kCounts),
      "fold" -> foldCounts, "kagg" -> kCounts)
  }

  /** The six stateful streaming shapes on RocksDB state from a rate
    * source, sampled every 5 s: state must PLATEAU at each operator's
    * documented bound, not grow with events. Event time runs ≈ 200×
    * wall (100 ms per row at 2000 rows/s), so hour-scale horizons
    * expire within a minutes-long soak. */
  private def soak(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    val seconds = intArg(args, 0, 180)
    val rps = intArg(args, 1, 2000)
    val nUsers = 1000L
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    implicit val s: SparkSession = spark

    // user cycles over nUsers; event types cycle view → click → purchase
    // per user-event index, so every user walks the q47 funnel IN ORDER
    // and completes it every third event (continuous completion
    // eviction), and click/purchase rows still feed the q38 join
    def events = spark.readStream.format("rate")
      .option("rowsPerSecond", rps).load()
      .select(col("value").as("event_id"),
        to_timestamp(lit(1704067200L) + col("value") * 0.1).as("ts"),
        (col("value") % nUsers).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase")),
          ((col("value") / nUsers) % 3).cast("int") + 1).as("event_type"),
        (col("value") % 97).cast("double").as("value"))
    val ckpt = Files.createTempDirectory("graft_soak").toString
    def sink(tag: String, df: Dataset[_]): (String, StreamingQuery) =
      tag -> df.writeStream.format("noop").option("checkpointLocation", s"$ckpt/$tag")
        .outputMode("append").start()
    val wm = "60 seconds"
    val streams = Seq(
      // q31: 30-min gap ≈ 9 wall-seconds of event time
      sink("session", EventStreams.sessionize(events.as[Event], watermark = wm)),
      // q38: 10-min join window
      sink("join", EventStreams.clickPurchaseJoin(
        events.filter(col("event_type") === "click"),
        events.filter(col("event_type") === "purchase"),
        watermark = wm, windowMs = 10 * 60 * 1000L)),
      // q47: state bounded by active users
      sink("funnel", EventStreams.funnelProgress(events.as[Event], watermark = wm)),
      // q49: one LastEvent entry per user
      sink("transitions", EventStreams.transitionSteps(events.as[Event], watermark = wm)),
      // q53: 3 types × an 8-long ring, volume-independent
      sink("anomaly", EventStreams.anomalyFacts(events.as[Event], watermark = wm)),
      // q58: one long per event type; each type recurs every ~300 ms of
      // event time, so a 200 ms floor emits facts continuously
      sink("silences", EventStreams.silenceFacts(events.as[Event],
        minGapUs = 200000L, watermark = wm)))

    val samples = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      Thread.sleep(5000)
      val t = ((System.nanoTime() - t0) / 1e9).toLong
      for ((tag, q) <- streams; p <- Option(q.lastProgress); so <- p.stateOperators) {
        val op = s"$tag/${so.operatorName}"
        val bytes = Option(so.customMetrics.get("rocksdbSstFileSize"))
          .map(_.longValue()).getOrElse(so.memoryUsedBytes)
        samples += ((t, op, so.numRowsTotal))
        json("sec" -> t, "op" -> op, "state_rows" -> so.numRowsTotal,
          "state_bytes" -> bytes, "events" -> p.numInputRows)
      }
    }
    streams.foreach(_._2.stop())

    // plateau verdict: peak state rows in the middle third vs the final
    // third — bounded state does not keep growing
    samples.groupBy(_._2).foreach { case (op, ss) =>
      val horizon = ss.map(_._1).max
      def peak(lo: Double, hi: Double) = ss.filter(x => x._1 >= horizon * lo && x._1 <= horizon * hi)
        .map(_._3).maxOption.getOrElse(0L)
      val mid = peak(1.0 / 3, 2.0 / 3)
      val fin = peak(2.0 / 3, 1.0)
      val growth = if (mid == 0) Double.NaN else (fin - mid).toDouble / mid
      json("op" -> op, "peak_rows_mid" -> mid, "peak_rows_final" -> fin,
        "final_vs_mid_growth" -> growth, "soak_sec" -> horizon, "plateau" -> (growth < 0.2))
    }
  }

  /** The MERGE/vacuum lifecycle on replicated orders: COW merge cost is
    * the rewrite, and storage is bounded by vacuum retention, not by
    * update count. */
  private def lifecycle(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    val base = replicate(
      spark.read.parquet(s"$sfDir/orders.parquet"), intArg(args, 0, 20), "o_orderkey")
    val root = Files.createTempDirectory("graft_lifecycle").toString
    val table = s"$root/orders"
    def dirBytes: Long = {
      val p = new org.apache.hadoop.fs.Path(table)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
    }

    val n = base.count()
    val (_, tWrite) = secs(TableLayout.writeManifested(base, table))
    json("op" -> "write", "rows" -> n, "sec" -> tWrite, "bytes" -> dirBytes)
    // the daily-ingest shape: each round updates 10 % of keys and
    // inserts 2 % new; COW cost should be flat per round, storage grow
    // by one snapshot per round
    (1 to 5).foreach { r =>
      val updates = base.filter(col("o_orderkey") % 10 === r)
        .withColumn("o_totalprice", col("o_totalprice") * lit(1.01))
      val inserts = base.filter(col("o_orderkey") % 50 === r)
        .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L) * r)
      val batch = updates.unionByName(inserts)
      val bn = batch.count()
      val (_, tMerge) = secs(
        TableLayout.upsertManifested(spark, table, batch, Seq("o_orderkey")))
      json("op" -> "merge", "round" -> r, "batch_rows" -> bn, "sec" -> tMerge,
        "snapshots" -> TableLayout.snapshots(spark, table).size, "bytes" -> dirBytes)
    }
    val (tt, tTravel) = secs(TableLayout.readManifestedAt(spark, table, 0).count())
    json("op" -> "time_travel_v0", "rows" -> tt, "sec" -> tTravel)
    val preVacuum = dirBytes
    val (removed, tVac) = secs(TableLayout.vacuumManifested(spark, table, keep = 2))
    json("op" -> "vacuum", "removed" -> removed, "sec" -> tVac, "bytes_before" -> preVacuum,
      "bytes_after" -> dirBytes,
      "current_rows" -> TableLayout.readManifested(spark, table).count())

    // partition-scoped merge vs the COW baseline above: a range-bucketed
    // table takes a CLUSTERED batch (contiguous keys — the late-arriving
    // / backfill shape) by rewriting only the touched buckets; a
    // key-UNIFORM batch (every bucket hit) degrades to the COW cost
    val table2 = s"$root/orders_bucketed"
    val (_, tW2) = secs(
      TableLayout.writeManifestedBucketed(base, table2, "o_orderkey", width = 250000L))
    json("op" -> "write_bucketed", "rows" -> n, "sec" -> tW2)
    def scopedMerge(op: String, keys: Column): Unit = {
      val batch = base.filter(keys).withColumn("o_totalprice", col("o_totalprice") * lit(1.01))
      val bn = batch.count()
      val (_, sec) = secs(TableLayout.upsertManifestedBucketed(spark, table2, batch))
      json("op" -> op, "batch_rows" -> bn, "sec" -> sec)
    }
    scopedMerge("merge_scoped_clustered", col("o_orderkey") < 60000L)
    scopedMerge("merge_scoped_uniform", col("o_orderkey") % 10 === 7)
  }

  /** semanticDedup (d12, pairwise work Σ|cell|²) at each cluster count
    * (default 16 64 256; hold n/k near the target cell size on larger
    * corpora), with the kept-set size finer cells change. */
  private def semDedup(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = embs.count()
    val ks = if (args.nonEmpty) args.map(_.toInt) else Seq(16, 64, 256)
    ks.foreach { k =>
      val (kept, sec) = secs {
        val labels = Dedup.semanticDedup(embs, Similarity.kmeansCentroids(embs, nCentroids = k))
        labels.filter(col("is_kept") === 1).count()
      }
      json("vectors" -> n, "nCentroids" -> k, "sec" -> sec, "kept" -> kept)
    }
  }

  /** The live codec chain over the committed media store, split by
    * modality. */
  private def decode(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    implicit val s: SparkSession = spark
    val media = Multimodal.materializeMedia(
      spark.read.parquet(s"$sfDir/documents.parquet"),
      graft.queries.MultimodalQueries.mediaStorePath(sfDir))
    def probe(name: String)(df: => DataFrame): Unit =
      json("probe" -> name, "sec" -> bestSecs(noop(df)))
    probe("metadata_chain")(Multimodal.extractFeatures(
      media, () => new Multimodal.JdkMediaDecoder).toDF())
    probe("m01_decode_query")(SparkEntry.queries("m01_decode")(spark, sfDir))
    probe("decode_all")(Multimodal.decodeAllFeatures(media).toDF())
    probe("image_only")(Multimodal.decodeImages(media).toDF())
    probe("image_resize")(Multimodal.resizeImages(media).toDF())
    probe("audio_only")(Multimodal.decodeAudio(media).toDF())
    probe("video_only")(Multimodal.decodeVideoFrames(media).toDF())
  }

  /** x07/x08 split into their snapshot writes, which the DuckDB oracle
    * never runs, and the SQL over the committed snapshot. */
  private def mergeSplit(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    val e = GraftEngine.cachedForDir(spark, sfDir)
    def split(query: String)(write: => Unit): Unit = {
      json("probe" -> s"${query.take(3)}_write", "sec" -> bestSecs(write))
      // building the query pays one more write; its SQL stays lazy
      val df = SparkEntry.queries(query)(spark, sfDir)
      json("probe" -> s"${query.take(3)}_query", "sec" -> bestSecs(noop(df)))
    }
    split("x07_sql_merge")(
      queries.SqlSurfaceQueries.mergedCustomerView(e, "graft_customer_merged"))
    split("x08_sql_time_travel") {
      queries.SqlSurfaceQueries.mergedCustomerView(e, "graft_customer_tt")
      e.registerManifestVersion("graft_customer_tt", 0)
    }
  }

  /** h-queries (default h18, h21, h04) on the plain corpus, then with
    * lineitem/orders repointed at stats-fed catalog tables bucketed by
    * order key, one bucket per core: the co-bucketed layout joins and
    * aggregates on the key without an exchange. */
  private def bucketed(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    GraftEngine.cachedForDir(spark, sfDir).enableCbo(cached = true)
    val names =
      if (args.nonEmpty) args
      else Seq("h18_large_volume", "h21_waiting_suppliers", "h04_order_priority")
    def run(layout: String): Unit = names.foreach { name =>
      val q = SparkEntry.queries(name)
      val sec = bestSecs(noop(q(spark, sfDir)))
      val df = q(spark, sfDir)
      df.queryExecution.executedPlan.executeCollect()
      // AQE: executedPlan AFTER execution is the final adaptive plan
      val exchanges = "Exchange (hashpartitioning|SinglePartition|rangepartitioning)".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
      json("query" -> name, "layout" -> layout, "sec" -> sec, "exchanges" -> exchanges)
    }
    run("plain")
    val buckets = spark.sparkContext.defaultParallelism
    Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey").foreach { case (table, key) =>
      val bname = s"${table}_bkt$buckets"
      val (_, sec) = secs {
        TableLayout.writeBucketed(
          spark.read.parquet(s"$sfDir/$table.parquet"), bname, key, buckets)
        Profile.analyzeCatalogTable(spark, bname)
      }
      json("layout" -> bname, "write_analyze_sec" -> sec)
      spark.table(bname).createOrReplaceTempView(table)
    }
    run("bucketed")
  }
}
