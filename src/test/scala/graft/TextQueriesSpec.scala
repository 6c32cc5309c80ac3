package graft

import graft.queries.TextQueries
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

class TextQueriesSpec extends SparkSpec {

  test("every per-doc text query runs and returns one row per document") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    // t07/t08/t11/t12/t13 aggregate or top-k across docs; t09 is a
    // filter; t17 ranks the vocabulary graph; t18 emits heavy hitters
    (TextQueries.defs - "t07_vocab" - "t08_tfidf" - "t09_quality_gate" -
        "t11_collocations" - "t12_bm25" - "t13_bpe_pairs" -
        "t17_textrank" - "t18_heavy_hitters" - "t19_bpe_train" -
        "t20_bpe_encode").foreach { case (name, fn) =>
      assert(fn(spark, sfDir).count() == docs, s"$name row count != documents")
    }
  }

  test("t08 TF-IDF: 3 keywords per doc, rarer terms outscore ubiquitous ones") {
    val df = TextQueries.defs("t08_tfidf")(spark, sfDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(df.count() == docs * 3)
    // a term appearing in EVERY document has idf = ln((N+1)/(N+1)) = 0:
    // it can never outrank a term with df < N and tf >= 1
    val bad = df.filter(col("df") === lit(docs) && col("tfidf") > 0).count()
    assert(bad == 0)
    assert(df.filter(col("rank") < 1 || col("rank") > 3).count() == 0)
  }

  test("t07 vocabulary: top-k by frequency, doc_freq bounded, TakeOrdered plan") {
    val df = TextQueries.defs("t07_vocab")(spark, sfDir)
    val rows = df.collect()
    // the synthetic vocabulary is smaller than k, so the limit returns it all
    assert(rows.length > 0 && rows.length <= 100)
    val freqs = rows.map(_.getAs[Long]("freq"))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b })
    assert(rows.forall(r => r.getAs[Long]("doc_freq") <= r.getAs[Long]("freq")))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k should not be a full sort:\n$plan")
  }

  test("t01 lang_pred is always one of the scored languages") {
    val langs = TextFunctions.Stopwords.map(_._1).toSet
    val preds = TextQueries.defs("t01_langid")(spark, sfDir)
      .select("lang_pred").distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(langs))
  }

  test("t03 BPE-ish token count >= whitespace token count") {
    val bad = TextQueries.defs("t03_tokens")(spark, sfDir)
      .filter(col("bpe_tokens") < col("ws_tokens")).count()
    assert(bad == 0)
  }

  test("t04 fingerprint is whitespace-normalization invariant") {
    import spark.implicits._
    val df = Seq("hello   world", " hello world ", "HELLO\tWORLD").toDF("text")
    val fps = df.select(TextFunctions.fingerprint(col("text"))).distinct().count()
    assert(fps == 1)
  }

  test("t05 redacts every email/phone span and counts what it scrubbed") {
    val df = TextQueries.defs("t05_pii")(spark, sfDir)
    val leaked = df.filter(
      col("clean_text").rlike(TextFunctions.EmailPattern) ||
        col("clean_text").rlike(TextFunctions.PhonePattern)).count()
    assert(leaked == 0, "clean_text still contains PII-shaped spans")
    val unredacted = df.filter(col("n_emails") < 1 || col("n_phones") < 1).count()
    assert(unredacted == 0, "every augmented doc should report >=1 email and phone")
    assert(df.filter(col("clean_text").contains("<EMAIL>") &&
      col("clean_text").contains("<PHONE>")).count() == df.count())
  }

  test("t09 gate keeps at least half of every language, never below its own median") {
    val kept = TextQueries.defs("t09_quality_gate")(spark, sfDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val perLangTotal = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perLangKept = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLangKept.keySet == perLangTotal.keySet)
    perLangKept.foreach { case (lang, k) =>
      // >= half by construction (median included); < all (the gate
      // actually discriminates on this corpus)
      assert(k * 2 >= perLangTotal(lang), s"$lang kept $k of ${perLangTotal(lang)}")
      assert(k < perLangTotal(lang), s"$lang gate kept everything")
    }
    // the threshold table is broadcast onto the corpus scan
    val plan = TextQueries.defs("t09_quality_gate")(spark, sfDir)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast threshold join:\n$plan")
  }

  test("text ops are single-scan map-side pipelines (no shuffle before the final sort)") {
    // t03/t04 plans must contain no Exchange other than the oracle-
    // determinism orderBy at the top — at 100 TB they run map-side only
    Seq("t03_tokens", "t04_fingerprint").foreach { name =>
      val plan = TextQueries.defs(name)(spark, sfDir)
        .queryExecution.executedPlan.toString()
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges <= 1, s"$name has $exchanges exchanges:\n$plan")
    }
  }

  test("t11 PMI: an always-together pair outranks an independent pair, exact value") {
    import spark.implicits._
    import graft.operators.Dedup
    // "alpha beta" always co-occur (5 times, nowhere else); "gamma" and
    // "delta" each appear 10 times but adjacent only 5 — PMI must rank
    // the perfectly-associated pair first. Filler words keep totals easy.
    // .trim: the shared split-on-space tokenizer (oracle-identical)
    // yields a trailing empty token from a trailing space, which would
    // shift T to 41 and every PMI with it
    val doc = (("alpha beta gamma delta " * 5) + ("gamma x delta y " * 5)).trim
    val docsDf = Seq((0L, doc)).toDF("doc_id", "text")
    val tmp = new java.io.File("target/tmp/t11").getAbsolutePath
    docsDf.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val res = TextQueries.defs("t11_collocations")(spark, tmp).collect()
    val byBigram = res.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // corpus totals: alpha=5 beta=5 gamma=10 delta=10 x=5 y=5 → T=40
    // "alpha beta": freq 5 → pmi = ln(5*40/(5*5)) = ln(8)
    assert(byBigram.contains("alpha beta"))
    assert(math.abs(byBigram("alpha beta")._2 - math.round(math.log(8.0) * 1e6) / 1e6) < 1e-9)
    // "gamma delta": freq 5 → pmi = ln(5*40/(10*10)) = ln(2) — lower
    assert(byBigram.contains("gamma delta"))
    assert(byBigram("alpha beta")._2 > byBigram("gamma delta")._2)
    // ranked output puts the associated pair first
    assert(res.head.getString(0) == "alpha beta")
  }

  test("t13 BPE pairs: exact weighted counts on a hand-built corpus; top-k plan") {
    import spark.implicits._
    // words: aab×2, ab×1, banana×1, x dropped (len<2)
    // aab → aa,ab (×2); ab → ab; banana → ba,an,na,an,na
    val docsDf = Seq((0L, "aab ab aab"), (1L, "banana x")).toDF("doc_id", "text")
    val tmp = new java.io.File("target/tmp/t13").getAbsolutePath
    docsDf.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val q = TextQueries.defs("t13_bpe_pairs")(spark, tmp)
    val res = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res == Map("ab" -> 3L, "aa" -> 2L, "an" -> 2L, "na" -> 2L, "ba" -> 1L))
    // top-k must plan as TakeOrderedAndProject (never a global sort)
    assert(q.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("t14 Gopher rules: exact verdicts on hand-built edge docs, passes is the conjunction") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("t14").toString
    Seq(
      // 0: clean doc — all rules pass (12 words, all alpha, has stopwords)
      (0L, "the quick brown fox and the lazy dog jump over the fence"),
      // 1: too short (3 words) and stopword-free
      (1L, "quick brown fox"),
      // 2: symbol-heavy — 12 words but every other token is punctuation
      (2L, "the ### fox $$$ dog %%% runs &&& far @@@ away ((("),
      // 3: numeric soup — words carry no alphabetic chars
      (3L, "111 222 333 444 555 666 777 888 999 000 111 222"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextQueries.defs("t14_gopher_rules")(spark, tmp).collect()
    def row(id: Long) = rows.find(_.getLong(0) == id).get
    assert(row(0).getAs[Boolean]("passes"), "clean doc must pass the battery")
    assert(!row(1).getAs[Boolean]("r_words") && !row(1).getAs[Boolean]("r_stopwords"))
    assert(!row(2).getAs[Boolean]("r_symbols") && !row(2).getAs[Boolean]("r_alpha"))
    assert(!row(3).getAs[Boolean]("r_alpha") && !row(3).getAs[Boolean]("passes"))
    rows.foreach { r =>
      val conj = Seq("r_words", "r_word_len", "r_symbols", "r_alpha", "r_stopwords")
        .forall(c => r.getAs[Boolean](c))
      assert(r.getAs[Boolean]("passes") == conj, s"passes != conjunction on $r")
    }
  }

  test("t16 bigram perplexity matches a hand-computed add-k model") {
    import spark.implicits._
    // "a b a b": bigrams (a,b)x2, (b,a)x1; c1: a→2, b→1; V=2, k=0.5
    //   P(b|a) = 2.5/3,  P(a|b) = 1.5/2
    val dir = java.nio.file.Files.createTempDirectory("bigram").toString
    Seq((1L, "a b a b", "en"))
      .toDF("doc_id", "text", "lang")
      .select(col("doc_id"), col("text"), col("lang"), lit("src0").as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.defs("t16_bigram_ppl")(spark, dir).collect()(0)
    def nll(p: Double) = BigDecimal(-math.log(p))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = (2 * nll(2.5 / 3.0) + nll(1.5 / 2.0)) / 3.0
    assert(out.getLong(1) == 3L)
    assert(math.abs(out.getDouble(2) - expected) < 1e-9,
      s"mean_nll ${out.getDouble(2)} != $expected")
    assert(math.abs(out.getDouble(3) - math.exp(out.getDouble(2))) < 1e-4)
  }

  test("t16 on the fixture: one row per doc, positive NLL, ppl consistent") {
    val rows = TextQueries.defs("t16_bigram_ppl")(spark, sfDir).collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length == docs)
    rows.foreach { r =>
      assert(r.getDouble(2) > 0, s"mean_nll must be positive: $r")
      val ppl = BigDecimal(math.exp(r.getDouble(2)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(3) - ppl) < 1e-9, s"ppl != round(exp(mean_nll)): $r")
    }
  }

  test("t19 BPE training: hand-computed merges, overlap semantics, early stop") {
    import spark.implicits._
    // vocab: abab x3, ab x2, ba x1.
    //  step 1: pairs (a,b)=3*2+2=8, (b,a)=3+1=4 -> merge (a,b,8)
    //  step 2: (ab,ab)=3, (b,a)=1            -> merge (ab,ab,3)
    //  step 3: (b,a)=1                        -> merge (b,a,1)
    //  step 4: no pairs left -> trainer stops early (7 steps unused)
    val vocab0 = Seq((3L, "abab"), (2L, "ab"), (1L, "ba")).toDF("c", "word")
      .select(col("c"), regexp_replace(col("word"), "(.)", "($1)").as("repr"))
    val out = TextQueries.bpeTrainMerges(spark, vocab0, steps = 10)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq((1, "a", "b", 8L), (2, "ab", "ab", 3L), (3, "b", "a", 1L)))
  }

  test("t19 merge application is left-to-right non-overlapping: (a)(a)(a) -> (aa)(a)") {
    import spark.implicits._
    // one word 'aaa': step-1 pair (a,a) counts BOTH adjacent positions
    // (standard pair statistics are overlapping) but the merge must
    // fuse only the leftmost occurrence.
    val vocab0 = Seq((1L, "(a)(a)(a)")).toDF("c", "repr")
    val out = TextQueries.bpeTrainMerges(spark, vocab0, steps = 2)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // step 1: (a,a) seen twice; step 2 proves the merge yielded
    // [aa, a] (pair (aa,a)=1), not [aa, aa]
    assert(out.toSeq == Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)))
  }

  test("t19 trainer schedules a BOUNDED job count: the fixpoint runs in one task (round 18)") {
    // the r17 per-round form scheduled one job per merge round (12 for
    // a 10-step budget); the in-task loop must keep the whole training
    // at O(1) jobs — the vocab materialization + the single merge job
    // (plus collect of the driver-built merges table)
    val vocab0 = TextQueries.bpeVocab0(spark, sfDir)
    val jobs = jobCounts {
      val merges = TextQueries.bpeTrainMerges(spark, vocab0, steps = 10)
      assert(merges.count() == 10)
    }.jobs
    assert(jobs <= 5,
      s"10-step training scheduled $jobs jobs — the fixpoint is no longer in-task")
  }

  test("t19 trainer on an EMPTY vocabulary reports dry (no merges), never throws") {
    // round-18 topPairs (reduceByKey + takeOrdered): an empty — even
    // zero-partition — vocabulary must yield an empty merge table (the
    // dry signal), not the UnsupportedOperationException RDD.reduce
    // threw in the round-17 driver-merge form (ADVICE r17)
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("c", "repr")
    val out = TextQueries.bpeTrainMerges(spark, empty, steps = 5)
    assert(out.count() == 0)
    // and a vocabulary whose words are all single symbols (no adjacent
    // pairs at all) is dry in round 1 the same way
    val fused = Seq((7L, "(abc)"), (2L, "(xy)")).toDF("c", "repr")
    assert(TextQueries.bpeTrainMerges(spark, fused, steps = 5).count() == 0)
  }

  test("batched BPE trainer: batch=1 replays the sequential (oracled) trainer byte-for-byte") {
    // the batched variant inherits t19's oracle through this pin: at
    // batch=1 the candidate-pool head IS the sequential argmax, so the
    // merge tables must be identical on real corpus data
    val vocab0 = TextQueries.bpeVocab0(spark, sfDir)
    val seq = TextQueries.bpeTrainMerges(spark, vocab0, steps = 10)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val b1 = TextQueries.bpeTrainBatched(spark, vocab0, steps = 10, batch = 1)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(2), r.getString(3), r.getLong(4)))
    assert(seq.toSeq == b1.toSeq,
      s"batch=1 diverged from the sequential trainer:\n seq=${seq.toSeq}\n b1=${b1.toSeq}")
  }

  test("batched BPE trainer: within a round, kept pairs are pairwise symbol-disjoint") {
    // the disjointness rule is what makes within-round batch
    // application ≡ sequential application (merging (a,b) can only
    // change counts of pairs sharing a or b) — assert it held on real
    // corpus data, and that batching actually compressed the rounds
    val vocab0 = TextQueries.bpeVocab0(spark, sfDir)
    val merges = TextQueries.bpeTrainBatched(spark, vocab0, steps = 16, batch = 8)
      .collect()
      .map(r => (r.getInt(1), r.getString(2), r.getString(3)))
    assert(merges.length == 16, s"expected 16 merges, got ${merges.length}")
    merges.groupBy(_._1).foreach { case (round, ms) =>
      // a SELF-pair like (g,g) is one symbol, not a conflict — dedupe
      // within the pair; cross-pair sharing is what breaks invariance
      val syms = ms.flatMap(m => Seq(m._2, m._3).distinct)
      assert(syms.distinct.length == syms.length,
        s"round $round kept pairs sharing a symbol: ${ms.toSeq}")
    }
    val rounds = merges.map(_._1).distinct.length
    assert(rounds < 16, s"16 merges in $rounds rounds — batching compressed nothing")
  }

  test("t19 loop state is the vocabulary: the corpus is scanned exactly once") {
    // file-scheme bytesRead across the whole training run must stay
    // within ~1.2x of a single corpus pass: iterations read the
    // checkpointed vocab, never the parquet again.
    // warm the session and measure one corpus pass
    val b0 = fileBytesRead
    spark.read.parquet(s"$sfDir/documents.parquet").selectExpr("sum(length(text))").collect()
    val onePass = fileBytesRead - b0
    assert(onePass > 0)
    val b1 = fileBytesRead
    val merges = TextQueries.bpeTrain(spark, sfDir, steps = 10).collect()
    val trained = fileBytesRead - b1
    assert(merges.length == 10)
    assert(trained < onePass * 2.2,
      s"training read $trained bytes vs $onePass for one pass — iterations are rescanning the corpus")
  }

  test("t20 BPE encode: hand-encodable corpus, per-doc true token counts") {
    import spark.implicits._
    // vocab {abab: 3, xy: 3}; steps=2 trains merges (a,b) then (ab,ab)
    // (the (ab,ab)/(x,y) count tie breaks lexicographic, 'ab' < 'x'),
    // so abab encodes to ONE token and xy stays (x)(y) = two.
    // 'a' (length 1) and '!punct' (non-alnum) are outside the trainer
    // domain and must not count; doc 3 has NO eligible words and must
    // be absent, matching the oracle's inner join.
    val dir = java.nio.file.Files.createTempDirectory("bpeenc").toString
    Seq((1L, "abab abab xy a !punct"), (2L, "abab xy xy"), (3L, "! ?"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.bpeEncode(spark, dir, steps = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 3L, 4L), (2L, 3L, 5L)),
      s"expected doc1=(3 words, 1+1+2 tokens), doc2=(3 words, 1+2+2): ${out.toSeq}")
  }

  test("t20 plan shape: vocabulary broadcast into the encode join, one doc-keyed shuffle") {
    val df = TextQueries.defs("t20_bpe_encode")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"word->token table must broadcast (vocabulary-sized):\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never shuffle on the word key:\n$plan")
    // every word is at least one token, and a fully-merged corpus
    // can never emit more tokens than t03-style word counts * max len
    val bad = df.filter(col("n_bpe_tokens") < col("n_words")).count()
    assert(bad == 0, "a word encoded to fewer than one token")
  }
}
