package graft

import graft.sources.TableLayout
import org.apache.spark.sql.functions._

class TableLayoutSpec extends SparkSpec {

  test("co-bucketed tables join with zero exchanges") {
    // the in-memory catalog forgets tables between sessions but their
    // warehouse directories persist — clear both before writing
    Seq("orders_b", "lineitem_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
    TableLayout.writeBucketed(o, "orders_b", "o_orderkey", 4)
    TableLayout.writeBucketed(
      l.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", "o_orderkey", 4)
    val joined = TableLayout.readBucketed(spark, "orders_b")
      .join(TableLayout.readBucketed(spark, "lineitem_b"), "o_orderkey")
      .groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
    // the join needs NO shuffle: both sides arrive pre-hashed on the key.
    // (the groupBy on a different key still exchanges once.)
    val plan = joined.queryExecution.executedPlan.toString()
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"co-bucketed join should not shuffle its inputs:\n$plan")
    // and the result matches the plain (shuffling) join
    val plain = o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
    assert(joined.orderBy("o_orderstatus").collect().toSeq ==
      plain.orderBy("o_orderstatus").collect().toSeq)
  }

  test("h18 shape on co-bucketed layout: lineitem aggregate AND orders join run exchange-free") {
    // h18's dominant cost at scale is ONE 60M→15M hash aggregate of
    // lineitem by l_orderkey plus the join to orders — both keyed on
    // the order key. On a layout bucketed by that key the aggregate
    // consumes the scan's bucket partitioning and the join arrives
    // co-partitioned: ZERO hash exchanges end-to-end. This is the
    // amortization `Measure scenario bucketed` measures at sf10 — the recipe
    // that retires the "no plan change removes the aggregate shuffle"
    // exemption at the LAYOUT layer rather than the query layer.
    Seq("orders_h18b", "lineitem_h18b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
    TableLayout.writeBucketed(l, "lineitem_h18b", "l_orderkey", 4)
    TableLayout.writeBucketed(o, "orders_h18b", "o_orderkey", 4)
    def h18(li: org.apache.spark.sql.DataFrame, ord: org.apache.spark.sql.DataFrame) =
      li.groupBy("l_orderkey").agg(sum("l_quantity").as("sum_qty"))
        .filter(col("sum_qty") > 250)
        .join(ord, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"), col("sum_qty"))
    // broadcast off: the point is bucket CO-LOCATION, not a broadcast
    // hiding the exchange at toy scale
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bucketed = h18(spark.table("lineitem_h18b"), spark.table("orders_h18b"))
      bucketed.collect()
      val plan = bucketed.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed h18 shape should be exchange-free:\n$plan")
      // plain layout pays exchanges for the same result
      val plain = h18(l, o)
      plain.collect()
      val plainEx = "Exchange hashpartitioning".r
        .findAllIn(plain.queryExecution.executedPlan.toString).length
      assert(plainEx >= 2, s"expected the plain layout to shuffle, got $plainEx")
      assert(bucketed.orderBy("o_orderkey").collect().toSeq ==
        plain.orderBy("o_orderkey").collect().toSeq)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("global-sorted write is range-partitioned: files hold disjoint ordered key ranges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sorted").toString + "/out"
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    TableLayout.writeGlobalSorted(o, dir, "o_totalprice", 4)
    // every parquet part file covers a key range disjoint from the others
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val ranges = parts.toSeq.map { f =>
      val df = spark.read.parquet(f.getAbsolutePath)
      val r = df.agg(min("o_totalprice"), max("o_totalprice")).head()
      (r.getDouble(0), r.getDouble(1))
    }.sortBy(_._1)
    assert(ranges.size > 1, "expected multiple range files")
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"file ranges overlap: $ranges")
    }
    // nothing lost in the re-layout
    assert(spark.read.parquet(dir).count() == o.count())
  }

  test("d09's stored LSH index: bucketed by bh, the ingest semi-join never shuffles the index") {
    import graft.operators.Dedup
    spark.sql("DROP TABLE IF EXISTS lsh_index_b")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "lsh_index_b")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val history = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    TableLayout.writeBucketed(Dedup.bandedBuckets(history), "lsh_index_b", "bh", 4)
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // at corpus scale the index outgrows broadcast; force that regime
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val kept = Dedup.incrementalKeep(spark.table("lsh_index_b"), batch)
      val plan = kept.queryExecution.executedPlan.toString()
      // the index scan reports its bucket layout and feeds the semi-join
      // without an Exchange above it (single-key join = bucket key)
      assert(plan.contains("Bucketed: true"), s"index not read as bucketed:\n$plan")
      // walk the ASCII plan tree from the index scan up to its enclosing
      // join: no Exchange may sit on that path
      val lines = plan.linesIterator.toVector
      def indent(s: String) = s.indexWhere(c => !" :+-".contains(c))
      var i = lines.indexWhere(_.contains("lsh_index_b["))
      assert(i >= 0, s"no index scan in plan:\n$plan")
      var ind = indent(lines(i))
      var hitJoin = false
      var sawExchange = false
      while (i > 0 && !hitJoin) {
        i -= 1
        val li = indent(lines(i))
        if (li >= 0 && li < ind) {
          ind = li
          if (lines(i).contains("Join")) hitJoin = true
          else if (lines(i).contains("Exchange")) sawExchange = true
        }
      }
      assert(hitJoin && !sawExchange, s"index side shuffled before the join:\n$plan")
      // same admissions as the unbucketed path
      val plain = Dedup.incrementalKeep(Dedup.bandedBuckets(history), batch)
        .collect().map(_.getLong(0)).toSet
      assert(kept.collect().map(_.getLong(0)).toSet == plain)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("compaction folds a many-small-files table into size-targeted files, data intact") {
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val smallDir = java.nio.file.Files.createTempDirectory("graft_small").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    // simulate streaming accretion: 64 tiny files
    l.repartition(64).write.mode("overwrite").parquet(smallDir)
    def parquetFiles(d: String) = new java.io.File(d).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(parquetFiles(smallDir).length == 64)
    val totalBytes = parquetFiles(smallDir).map(_.length()).sum
    val target = totalBytes / 4 + 1
    val expected = TableLayout.compact(spark, smallDir, outDir, target)
    assert(parquetFiles(outDir).length == expected && expected <= 5,
      s"expected ~4 compacted files, got ${parquetFiles(outDir).length}")
    // compaction moves bytes, never rows
    assert(spark.read.parquet(outDir).count() == l.count())
    // the shuffle-free path: coalesce plans no Exchange
    val plan = spark.read.parquet(smallDir).coalesce(4)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), s"coalesce must not shuffle:\n$plan")
  }

  test("schema evolution: a mergeSchema read unions file schemas; missing columns read NULL") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    // v1 files lack the column a later ingest adds
    Seq((1L, "a"), (2L, "b")).toDF("id", "payload")
      .write.mode("overwrite").parquet(s"$dir/batch=1")
    Seq((3L, "c", "en"), (4L, "d", "fr")).toDF("id", "payload", "lang")
      .write.mode("overwrite").parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "payload", "lang", "batch"))
    assert(merged.count() == 4)
    // old files surface the new column as NULL, new files keep values
    assert(merged.filter(col("lang").isNull).count() == 2)
    assert(merged.filter(col("lang") === "en").select("id").head().getLong(0) == 3L)
  }

  test("z-value interleaves bits in Morton order") {
    import spark.implicits._
    // with span 2^16-1 the scaling is the identity, so small inputs map
    // to the textbook Morton codes: z(x,y) interleaves x into even bits,
    // y into odd bits
    val full = (1L << 16) - 1
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 2L), (3L, 5L))
      .toDF("x", "y")
      .select(TableLayout.zValue(Seq(col("x"), col("y")),
        Seq(0L, 0L), Seq(full, full)).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // z(3,5) = interleave(011, 101) = y2 x2 y1 x1 y0 x0 = 1 0 0 1 1 1 = 39
    assert(rows == Seq(0L, 1L, 2L, 3L, 12L, 39L))
  }

  test("z-ordered layout prunes files on BOTH keys; linear sort only on its own") {
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val zDir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val sDir = java.nio.file.Files.createTempDirectory("graft_linear").toString
    val files = 16
    TableLayout.writeZOrdered(l, zDir, Seq("l_orderkey", "l_partkey"), files)
    TableLayout.writeGlobalSorted(l, sDir, "l_orderkey", files)
    // the layout moves rows, never changes them
    assert(spark.read.parquet(zDir).count() == l.count())
    // a 10%-selective band on the NON-sort key: the linear layout cannot
    // prune at all (every file spans the full l_partkey range); the
    // z-ordered tiles confine it to a strip of the key space
    // repartitionByRange samples with an RDD-id-derived seed, so the
    // exact file boundaries jitter with JVM history — the ~half-the-
    // files claim gets one file of slack so a boundary straddle
    // doesn't flake the suite
    val pkLinear = TableLayout.filesOverlapping(spark, sDir, "l_partkey", 80L, 99L)
    val pkZorder = TableLayout.filesOverlapping(spark, zDir, "l_partkey", 80L, 99L)
    assert(pkLinear == files, s"linear layout unexpectedly pruned: $pkLinear")
    assert(pkZorder <= files / 2 + 1,
      s"z-order should skip ~half the files on the secondary key, read $pkZorder")
    // on the primary key the linear sort prunes best (contiguous ranges),
    // but z-order must still prune substantially — that is the trade
    val okZorder = TableLayout.filesOverlapping(spark, zDir, "l_orderkey", 300L, 449L)
    assert(okZorder <= files / 2 + 1,
      s"z-order should still prune on the leading key, read $okZorder")
  }

  test("partition-pruned scan reads only the predicate's directories") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val e = graft.queries.Ops.events(spark, sfDir)
    TableLayout.writePartitioned(e, dir, "event_type")
    val pruned = spark.read.parquet(dir).filter(col("event_type") === "click")
    val scan = pruned.queryExecution.executedPlan.toString()
    assert(scan.contains("PartitionFilters") &&
      scan.contains("event_type"), s"no partition pruning in scan:\n$scan")
    assert(pruned.count() == e.filter(col("event_type") === "click").count())
    // directory layout: one subdir per event_type value
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(subdirs.forall(_.startsWith("event_type=")))
  }
}
