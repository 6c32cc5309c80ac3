package graft

import graft.queries.EventQueries
import graft.operators.Resolve
import org.apache.spark.sql.functions._

/** q47 funnel, q48 retention, d15 fuzzy entity resolution. */
class EventAnalyticsSpec extends SparkSpec {

  import spark.implicits._

  // --- q47 funnel -----------------------------------------------------

  test("q47 funnel counts hand-built sequences exactly") {
    // u1 completes the funnel; u2 clicks before viewing (click must not
    // count); u3 views only; u4 has click+purchase but no view (stage 0);
    // u5 view and click at the SAME timestamp (strict > rejects the click).
    val rows = Seq(
      (1L, 100L, "view"), (1L, 200L, "click"), (1L, 300L, "purchase"),
      (2L, 100L, "click"), (2L, 200L, "view"), (2L, 300L, "click"), // stage 2
      (3L, 100L, "view"),
      (4L, 100L, "click"), (4L, 200L, "purchase"),
      (5L, 100L, "view"), (5L, 100L, "click"))
      .toDF("user_id", "t", "event_type")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"), col("event_type"),
        lit(0L).as("event_id"), lit(0.0).as("value"), lit("{}").as("props"))
    val dir = java.nio.file.Files.createTempDirectory("funnel").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = EventQueries.defs("q47_funnel")(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // stage 1: u1,u2,u3,u5 viewed; stage 2: u1,u2 (u5's same-ts click
    // rejected); stage 3: u1 only
    assert(out == Map(1 -> 4L, 2 -> 2L, 3 -> 1L))
  }

  test("q47 always reports every stage, even unreached ones") {
    val rows = Seq((1L, 100L, "view"))
      .toDF("user_id", "t", "event_type")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"), col("event_type"),
        lit(0L).as("event_id"), lit(0.0).as("value"), lit("{}").as("props"))
    val dir = java.nio.file.Files.createTempDirectory("funnel0").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = EventQueries.defs("q47_funnel")(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(1 -> 1L, 2 -> 0L, 3 -> 0L))
  }

  test("q47 plans a single exchange for the per-user fold (no per-stage self-join)") {
    val plan = EventQueries.defs("q47_funnel")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // one shuffle for the user grouping + the 3-row stage rollup side;
    // the funnel itself must not add per-stage joins over the corpus
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 3, s"expected <=3 hash exchanges, got $exchanges:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "funnel must not self-join the event log")
  }

  // --- q48 retention --------------------------------------------------

  test("q48 retention matches a hand-computed cohort table") {
    // two users: u1 first active week 0, returns week 2; u2 first active
    // week 1 only. Weeks are Monday-truncated: 2024-01-01 is a Monday.
    def ts(day: Int): Long = {
      java.time.LocalDate.of(2024, 1, 1).plusDays(day)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L
    }
    val rows = Seq(
      (1L, ts(0)), (1L, ts(15)),  // Mon wk0, Tue wk2
      (2L, ts(8)))                // Tue wk1
      .toDF("user_id", "t")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"),
        lit("view").as("event_type"), lit(0L).as("event_id"),
        lit(0.0).as("value"), lit("{}").as("props"))
    val dir = java.nio.file.Files.createTempDirectory("retention").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = EventQueries.defs("q48_retention")(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("2024-01-01", 0) -> 1L, ("2024-01-01", 2) -> 1L,
      ("2024-01-08", 0) -> 1L))
  }

  test("q48 offsets are whole weeks and cohort week 0 covers every user") {
    val out = EventQueries.defs("q48_retention")(spark, sfDir)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // every user's first-activity week contributes at offset 0, so the
    // sum of offset-0 active_users equals the distinct user count
    val users = queries.Ops.events(spark, sfDir)
      .select("user_id").distinct().count()
    val atZero = rows.filter(_.getInt(1) == 0).map(_.getLong(2)).sum
    assert(atZero == users, s"offset-0 total $atZero != $users users")
    assert(rows.forall(_.getInt(1) >= 0))
  }

  // --- q49 transitions ------------------------------------------------

  test("q49 transition counts and probabilities on hand-built sequences") {
    val rows = Seq(
      (1L, 1L, "A"), (1L, 2L, "B"), (1L, 3L, "A"), // A→B, B→A
      (2L, 1L, "A"), (2L, 2L, "A"))                // A→A
      .toDF("user_id", "t", "event_type")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"), col("event_type"),
        monotonically_increasing_id().as("event_id"),
        lit(0.0).as("value"), lit("{}").as("props"))
    val dir = java.nio.file.Files.createTempDirectory("trans").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = EventQueries.defs("q49_transitions")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      ("A", "B") -> (1L, 0.5), ("A", "A") -> (1L, 0.5), ("B", "A") -> (1L, 1.0)))
  }

  test("q49 fixture invariants: per-source probabilities sum to 1, counts to n-users") {
    val rows = EventQueries.defs("q49_transitions")(spark, sfDir).collect()
    val e = queries.Ops.events(spark, sfDir)
    val total = e.count()
    val users = e.select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum == total - users,
      "each user contributes exactly (events-1) transitions")
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val p = rs.map(_.getDouble(3)).sum
      assert(math.abs(p - 1.0) < 1e-4, s"src=$src probabilities sum to $p")
    }
  }

  test("q48/q49 plan shapes: no window for retention, no global exchange for transitions") {
    val p48 = EventQueries.defs("q48_retention")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p48.contains("Window"), s"retention needs no window operator:\n$p48")
    val p49 = EventQueries.defs("q49_transitions")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the lead() window partitions by user and the normalization by src —
    // a GLOBAL window would demand an Exchange SinglePartition
    assert(!p49.contains("Exchange SinglePartition"),
      s"transitions must never single-partition the corpus:\n$p49")
  }

  // --- q50 A/B test ---------------------------------------------------

  test("q50 z-statistic matches a from-first-principles computation") {
    import graft.operators.EventAnalytics
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def arm(u: Long): Long = java.lang.Long.parseLong(md5hex(s"ab|$u").take(2), 16) % 2
    // 40 users; user u converts iff u % 3 == 0 (1 purchase vs none,
    // minCount = 1) — conversion correlates with nothing but u
    val users = (1L to 40L)
    val rows = users.flatMap { u =>
      val base = Seq((u, u * 1000L, "view"))
      if (u % 3 == 0) base :+ ((u, u * 1000L + 1, "purchase")) else base
    }.toDF("user_id", "t", "event_type")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"), col("event_type"))
    val out = EventAnalytics.abTest(rows, col("user_id"), col("event_type"),
      convertType = "purchase", minCount = 1).collect()(0)
    val byArm = users.groupBy(arm)
    val (n0, n1) = (byArm(0L).size.toDouble, byArm(1L).size.toDouble)
    val (c0, c1) = (byArm(0L).count(_ % 3 == 0).toDouble, byArm(1L).count(_ % 3 == 0).toDouble)
    val (p0, p1) = (c0 / n0, c1 / n1)
    val pp = (c0 + c1) / (n0 + n1)
    val z = (p1 - p0) / math.sqrt(pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1))
    assert(out.getLong(0) == n0.toLong && out.getLong(2) == n1.toLong)
    assert(out.getLong(1) == c0.toLong && out.getLong(3) == c1.toLong)
    val zExp = BigDecimal(z).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.getDouble(6) == zExp, s"z ${out.getDouble(6)} != $zExp")
    assert(out.getBoolean(7) == (math.abs(z) > 1.96))
  }

  test("q50 degenerate experiment (everyone converts) emits NULL z, not an error") {
    import graft.operators.EventAnalytics
    val rows = (1L to 10L).map(u => (u, u * 1000L, "purchase"))
      .toDF("user_id", "t", "event_type")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"), col("event_type"))
    val out = EventAnalytics.abTest(rows, col("user_id"), col("event_type"),
      convertType = "purchase", minCount = 1).collect()(0)
    assert(out.isNullAt(6) && out.isNullAt(7),
      "zero pooled variance must yield NULL z/significant")
    assert(out.getDouble(4) == 1.0 && out.getDouble(5) == 1.0)
  }

  // --- d15 fuzzy resolution -------------------------------------------

  test("d15 resolve matches corrupted names back to the registry") {
    val registry = Seq("red widget", "blue bolt", "small ring")
      .toDF("name")
    val dirty = Seq(
      (1L, "red wdget"),   // deletion of 'i' → dist 1 to "red widget"
      (2L, "blue bolt"),   // exact → dist 0
      (3L, "smal ring"),   // dist 1 to "small ring"
      (4L, "zzz unknown")) // no block match at all
      .toDF("id", "dname")
    val out = Resolve.resolve(dirty, registry, "id", "dname", "name")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(2)), Option(r.getString(3)), r.getLong(4))).toMap
    assert(out(1L) == (Some(1), Some("red widget"), 1L))
    assert(out(2L) == (Some(0), Some("blue bolt"), 1L))
    assert(out(3L) == (Some(1), Some("small ring"), 1L))
    assert(out(4L) == (None, None, 0L))
  }

  test("d15 best-match encoding prefers lower distance, then lexicographic name") {
    val registry = Seq("aa red", "aa rod").toDF("name")
    val dirty = Seq((1L, "aa redd")).toDF("id", "dname") // dist1 to "aa red", 2+ to "aa rod"
    val out1 = Resolve.resolve(dirty, registry, "id", "dname", "name").collect()(0)
    assert(out1.getString(3) == "aa red" && out1.getInt(2) == 1)
    // equal distance → lexicographically first name wins
    val registry2 = Seq("aa bcd", "aa bce").toDF("name")
    val dirty2 = Seq((1L, "aa bc")).toDF("id", "dname") // dist 1 to both
    val out2 = Resolve.resolve(dirty2, registry2, "id", "dname", "name").collect()(0)
    assert(out2.getString(3) == "aa bcd" && out2.getLong(4) == 2L)
  }

  test("d15 perturbation preserves the blocking prefix and deletes exactly one char") {
    val p = spark.read.parquet(s"$sfDir/part.parquet")
    val checked = p.select(
      col("p_name"),
      Resolve.deleteOneChar(col("p_name"), "fz", col("p_partkey")).as("d"))
      .withColumn("okLen", length(col("d")) === length(col("p_name")) - 1)
      .withColumn("okPrefix",
        substring(col("d"), 1, Resolve.BlockPrefix) ===
          substring(col("p_name"), 1, Resolve.BlockPrefix))
    assert(checked.filter(!col("okLen") || !col("okPrefix")).count() == 0)
  }

  test("d15 on the fixture resolves every part and the query is deterministic") {
    val out = queries.DedupQueries.defs("d15_fuzzy_join")(spark, sfDir)
    val rows = out.collect()
    val parts = spark.read.parquet(s"$sfDir/part.parquet").count()
    assert(rows.length == parts)
    // every corrupted name is within 1 edit of its source name, which
    // shares its block, so nothing may go unmatched
    assert(rows.forall(_.getLong(4) >= 1L), "unmatched dirty rows")
    assert(rows.forall(r => r.getInt(2) <= Resolve.MaxEdits))
  }

  // --- q51 last-touch attribution --------------------------------------

  test("q51 attribution credits the nearest preceding non-purchase touch") {
    // u1: view→click→purchase(5) → click; u1 second purchase(2) after
    // another view → view; u2: orphan purchase(7) → direct; u3:
    // purchase preceded ONLY by a purchase → still direct (conversions
    // never act as touches); u4: click & purchase at the SAME ts —
    // event_id orders the click first, so it counts as preceding.
    val rows = Seq(
      (1L, 100L, 1L, "view", 0.0), (1L, 200L, 2L, "click", 0.0),
      (1L, 300L, 3L, "purchase", 5.0), (1L, 400L, 4L, "view", 0.0),
      (1L, 500L, 5L, "purchase", 2.0),
      (2L, 100L, 6L, "purchase", 7.0),
      (3L, 100L, 7L, "purchase", 1.0), (3L, 200L, 8L, "purchase", 1.0),
      (4L, 100L, 9L, "click", 0.0), (4L, 100L, 10L, "purchase", 3.0))
      .toDF("user_id", "t", "event_id", "event_type", "value")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"),
        col("event_type"), col("event_id"), col("value"), lit("{}").as("props"))
    val dir = java.nio.file.Files.createTempDirectory("attrib").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = EventQueries.defs("q51_attribution")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out == Map(
      "click" -> ((2L, 8.0)),   // u1's first purchase + u4's same-ts one
      "view" -> ((1L, 2.0)),    // u1's second purchase
      "direct" -> ((3L, 9.0)))) // u2's orphan + u3's both
  }

  // --- q53 anomaly detection -------------------------------------------

  test("q53 flags a spike, stays silent on thin history and zero variance") {
    // type "a": 7 baseline days (one at 20 so variance > 0), then a
    // 100-event spike; type "b": constant volume (zero variance -> no
    // verdict, NULL z)
    def day(d: Int, n: Int, tpe: String) = (0 until n).map { i =>
      (1L, java.time.LocalDate.of(2024, 1, 1 + d)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L + i, tpe)
    }
    val rows = ((0 to 5).flatMap(day(_, 10, "a")) ++ day(6, 20, "a") ++
      day(7, 100, "a") ++ (0 to 7).flatMap(day(_, 5, "b")))
      .toDF("user_id", "t", "event_type")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"), col("event_type"),
        lit(0L).as("event_id"), lit(0.0).as("value"), lit("{}").as("props"))
    val dir = java.nio.file.Files.createTempDirectory("anomaly").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = EventQueries.defs("q53_anomaly")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Int])))).toMap
    // thin history: the first 7 "a" days carry no verdict
    (1 to 7).foreach(d =>
      assert(out(("a", f"2024-01-0$d"))._3.isEmpty, s"day $d should be unscored"))
    // the spike day is flagged with a large positive z
    val (cnt, z, flag) = out(("a", "2024-01-08"))
    assert(cnt == 100L && flag.contains(1) && z.exists(_ > 10.0))
    // zero variance: full window but no deviation -> NULL z, no verdict
    assert(out(("b", "2024-01-08")) == ((5L, None, None)))
  }

  // --- q55 gap-fill ----------------------------------------------------

  test("q55 fillDaily: exact linear interpolation, LOCF, and boundary fallbacks") {
    val series = Seq(
      ("a", 0, 10L), ("a", 3, 4L), // gap days 1-2: linear 8.0 / 6.0
      ("b", 1, 5L))                // boundary gaps: day 0 NOCB, days 2-3 LOCF
      .toDF("key", "d", "cnt")
      .select(col("key"),
        date_add(lit("2024-01-01").cast("date"), col("d")).as("day"), col("cnt"))
    val out = graft.operators.EventAnalytics.fillDaily(series)
      .orderBy("key", "day").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      ("a", "2024-01-01", 1, Some(10L), 10L, 10.0),
      ("a", "2024-01-02", 0, None, 10L, 8.0),
      ("a", "2024-01-03", 0, None, 10L, 6.0),
      ("a", "2024-01-04", 1, Some(4L), 4L, 4.0),
      ("b", "2024-01-01", 0, None, 5L, 5.0),  // before first obs: NOCB
      ("b", "2024-01-02", 1, Some(5L), 5L, 5.0),
      ("b", "2024-01-03", 0, None, 5L, 5.0),  // after last obs: LOCF
      ("b", "2024-01-04", 0, None, 5L, 5.0)))
  }

  test("q55 calendar generation is broadcast-tiny: no corpus-sized cross join") {
    val df = EventQueries.defs("q55_gapfill")(spark, sfDir)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"calendar must build from broadcast envelope x keys:\n$plan")
  }

  // --- q58 silences / q59 cohort LTV -----------------------------------

  test("q58 finds exactly the >=60min gaps, exact micros spans") {
    val H = 3600000000L
    val rows = Seq(
      (1L, 0L, 1L, "a"), (2L, H - 1, 2L, "a"),      // 59:59.999999 — no
      (3L, 2 * H, 3L, "a"),                          // gap of H+1 — yes
      (4L, 10 * H, 4L, "a"),                         // gap of 8H — yes
      (5L, 0L, 5L, "b"), (6L, H, 6L, "b"))           // exactly H — yes
      .toDF("user_id", "t", "event_id", "event_type")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"),
        col("event_type"), col("event_id"), lit(0.0).as("value"),
        lit("{}").as("props"))
    val dir = java.nio.file.Files.createTempDirectory("silence").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = EventQueries.defs("q58_silences")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("a", H - 1, 2 * H, H + 1),
      ("a", 2 * H, 10 * H, 8 * H),
      ("b", 0L, H, H)))
  }

  test("q59 LTV matrix: exact cumulative revenue per cohort user") {
    def ts(day: Int): Long =
      java.time.LocalDate.of(2024, 1, 1).plusDays(day)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L
    // u1 & u2 cohort wk0 (Mon 2024-01-01); u1 buys 10.5 wk0 and 4.5
    // wk2, u2 buys 2.0 wk0; u3 cohort wk1, no purchases (size-only)
    val rows = Seq(
      (1L, ts(0), "view", 0.0), (1L, ts(1), "purchase", 10.5),
      (1L, ts(15), "purchase", 4.5),
      (2L, ts(2), "purchase", 2.0),
      (3L, ts(8), "view", 0.0))
      .toDF("user_id", "t", "event_type", "value")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"),
        col("event_type"), lit(0L).as("event_id"), col("value"),
        lit("{}").as("props"))
    val dir = java.nio.file.Files.createTempDirectory("ltv").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = EventQueries.defs("q59_cohort_ltv")(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      ("2024-01-01", 0, 2L, 12.5, 12.5, 6.25),
      ("2024-01-01", 2, 2L, 4.5, 17.0, 8.5)))
  }

  test("q58 is blocked: the corpus window partitions by (key, day), never key alone") {
    val plan = EventQueries.defs("q58_silences")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__k") && plan.contains("__day"),
      s"corpus sort must be bounded by key-day blocks:\n$plan")
  }

  test("q58 blocked form equals the flat window across day boundaries and empty days") {
    // gaps that are intra-day, cross ONE midnight, and cross an entire
    // empty day — plus a sub-threshold midnight crossing that must NOT
    // appear (45 min split 30+15 across the boundary)
    val D = 86400000000L; val H = 3600000000L; val M = 60000000L
    val rows = Seq(
      (1L, 10 * H, 1L, "a"), (2L, 13 * H, 2L, "a"),          // intra-day 3h
      (3L, D - 30 * M, 3L, "a"), (4L, D + 15 * M, 4L, "a"),  // 45min across midnight: no
      (5L, D + 20 * H, 5L, "a"), (6L, 3 * D + 2 * H, 6L, "a")) // spans empty day 2: yes
      .toDF("user_id", "t", "event_id", "event_type")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"),
        col("event_type"), col("event_id"), lit(0.0).as("value"),
        lit("{}").as("props"))
    val dir = java.nio.file.Files.createTempDirectory("silenceblk").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = EventQueries.defs("q58_silences")(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (10 * H, 13 * H, 3 * H),
      (13 * H, D - 30 * M, 11 * H - 30 * M),  // 13:00 -> 23:30 same day
      (D + 15 * M, D + 20 * H, 20 * H - 15 * M),
      (D + 20 * H, 3 * D + 2 * H, 2 * D - 18 * H)))
  }

  test("q60 percentile bands: exact rank selection incl. the n=1 edge") {
    def ts(day: Int, i: Int): Long =
      java.time.LocalDate.of(2024, 1, 1 + day)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L + i
    // day 0: values 1..10 -> p50 = 5 (rank ceil(5)), p95 = 10 (rank
    // ceil(9.5) = 10); day 1: a single value is both bands
    var eid = 0L
    val rows = ((1 to 10).map { v => eid += 1; (ts(0, v), eid, v.toDouble) } :+
      { eid += 1; (ts(1, 0), eid, 42.0) })
      .map { case (t, id, v) => (7L, t, id, "view", v) }
      .toDF("user_id", "t", "event_id", "event_type", "value")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"),
        col("event_type"), col("event_id"), col("value"), lit("{}").as("props"))
    val dir = java.nio.file.Files.createTempDirectory("bands").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = EventQueries.defs("q60_percentile_bands")(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      ("2024-01-01", 10L, 5.0, 10.0),
      ("2024-01-02", 1L, 42.0, 42.0)))
  }

  test("q60 plans as one aggregate blocked by (key, day): no window machinery") {
    val plan = EventQueries.defs("q60_percentile_bands")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"q60 must select ranks from the sorted-array aggregate, not a window:\n$plan")
    assert(plan.contains("hashpartitioning(__k") && plan.contains("__day"),
      s"percentile aggregate must group by key-day blocks:\n$plan")
  }

  test("q60 hot key-day guard: oversized group takes the spillable windowed branch, same rows") {
    import graft.operators.EventAnalytics
    def ts(day: Int, i: Int): Long =
      java.time.LocalDate.of(2024, 1, 1 + day)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L + i
    // Planted hot key-day: 10 rows on day 0 vs a 5-row bound; day 1
    // stays cold (1 row). The guard must reroute the WHOLE query to the
    // windowed branch (branch choice is per-corpus, not per-group).
    var eid = 0L
    val rows = ((1 to 10).map { v => eid += 1; (ts(0, v), eid, v.toDouble) } :+
      { eid += 1; (ts(1, 0), eid, 42.0) })
      .map { case (t, id, v) => (7L, t, id, "view", v) }
      .toDF("user_id", "t", "event_id", "event_type", "value")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"),
        col("event_type"), col("event_id"), col("value"))
    val guarded = EventAnalytics.percentileBands(rows, col("event_type"),
      col("ts"), col("value"), col("event_id"), maxExactGroup = 5L)
    val plan = guarded.queryExecution.executedPlan.toString
    assert(plan.contains("Window"),
      s"a hot key-day past the bound must select ranks through WindowExec " +
        s"(spillable), not the unspillable array aggregate:\n$plan")
    // Same single corpus exchange as the array branch: both window specs
    // and the final aggregate share hashpartitioning(__k, __day).
    assert("(?<!Broadcast)Exchange".r.findAllIn(plan).size == 1,
      s"windowed fallback must still be one corpus exchange:\n$plan")
    // Rank-exact parity with the array branch (the oracle is unchanged
    // whichever branch the guard picks).
    val out = guarded.orderBy("day").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      ("2024-01-01", 10L, 5.0, 10.0),
      ("2024-01-02", 1L, 42.0, 42.0)))
  }

  test("q60 hot-group probe is cached per corpus snapshot: repeat builds run zero jobs") {
    import graft.operators.EventAnalytics
    // parquet-backed source (the cache keys on the file fingerprint)
    val dir = java.nio.file.Files.createTempDirectory("bandscache").toString
    Seq((1L, 100L, 1L, "view", 5.0), (2L, 200L, 2L, "view", 7.0))
      .toDF("user_id", "t", "event_id", "event_type", "value")
      .select(col("user_id"), timestamp_micros(col("t")).as("ts"),
        col("event_type"), col("event_id"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val src = spark.read.parquet(s"$dir/events.parquet")
    def build() = EventAnalytics.percentileBands(src, col("event_type"),
      col("ts"), col("value"), col("event_id"))
    build() // first build pays the probe (and seeds the cache)
    // same corpus snapshot: probe must be an in-memory map hit
    val jobs = jobCounts(build()).jobs
    assert(jobs == 0,
      s"re-building q60 over an unchanged corpus ran $jobs Spark job(s); " +
        "the hot-group probe must come from the fingerprint cache")
  }

  test("q58/q59 plan shape: one corpus exchange each, windows never global") {
    Seq("q58_silences", "q59_cohort_ltv").foreach { q =>
      val plan = EventQueries.defs(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange SinglePartition") ||
        q == "q59_cohort_ltv", // q59's final sort is the orderBy output
        s"$q has a global exchange:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian:\n$plan")
    }
  }

  test("q51 plans one corpus exchange (window) plus the channel rollup") {
    val plan = EventQueries.defs("q51_attribution")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected <=2 hash exchanges, got $exchanges:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      "attribution must not join the event log")
  }
}
