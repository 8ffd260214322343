package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.queries.Analytics

/** Semantics of the training-data prep operators added in round 5:
  * sliding-window chunking, deterministic hash sampling, and batch
  * sessionization.
  */
class PipelinePrepSpec extends SparkTestBase {
  import spark.implicits._

  test("chunk: sliding windows with overlap, truncated tail, stable ids") {
    val doc = (1 to 50).map(i => s"w$i").mkString(" ")
    val out = TextAnalysis.chunk(Seq((0L, doc)).toDF("doc_id", "text"), "text",
        chunkSize = 32, stride = 24)
      .orderBy("chunk_id")
      .select("chunk_id", "chunk_len", "chunk_text")
      .collect()
    // starts 0, 24, 48 over 50 tokens → lengths 32, 26, 2
    assert(out.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    assert(out.map(_.getInt(1)).toSeq == Seq(32, 26, 2))
    assert(out(0).getString(2).startsWith("w1 w2 ") && out(0).getString(2).endsWith(" w32"))
    assert(out(1).getString(2).startsWith("w25 ")) // overlap of 8 tokens
    assert(out(2).getString(2) == "w49 w50")
  }

  test("chunk: every token is covered and consecutive chunks overlap by size-stride") {
    val doc = (1 to 100).map(i => s"t$i").mkString(" ")
    val chunks = TextAnalysis.chunk(Seq((0L, doc)).toDF("doc_id", "text"), "text",
        chunkSize = 32, stride = 24)
      .orderBy("chunk_id").select("chunk_text").as[String].collect()
      .map(_.split(" ").toSeq)
    assert(chunks.flatten.distinct.size == 100)
    chunks.sliding(2).foreach {
      case Array(a, b) => assert(a.takeRight(8) == b.take(8) || b.size < 8)
      case _           => ()
    }
  }

  test("hash sampling is deterministic, rate-accurate, and join-stable") {
    val ids = (0L until 2000L).toDF("id")
    // no strata: every row is sampled at the default rate
    def sample(pct: Int) = Sampling.stratifiedHashSample(ids, col("id"), lit(""),
      rates = Nil, defaultPct = pct).as[Long].collect().toSet
    val s1 = sample(10)
    val s2 = sample(10)
    assert(s1 == s2) // rerun → identical sample (pure function of data)
    assert(math.abs(s1.size - 200) < 60, s"rate off: ${s1.size}/2000")
    // rate monotonicity: a 20% sample contains the 10% sample (bucket
    // predicate is a prefix test, the property that makes splits stable)
    val s20 = sample(20)
    assert(s1.subsetOf(s20))
  }

  test("stratified sampling applies per-stratum rates") {
    val df = (0L until 1000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val out = Sampling.stratifiedHashSample(df, col("id"), col("lang"),
        rates = Seq("en" -> 50), defaultPct = 10)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(out("en") - 250) < 80, s"en rate off: ${out("en")}/500")
    assert(math.abs(out("de") - 50) < 40, s"de rate off: ${out("de")}/500")
  }

  test("decontaminate: flags exactly the docs sharing n-grams with the eval set") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // shares 'alpha beta gamma'…
      (11L, "one two three four five six seven"),   // disjoint
      (12L, "gamma delta epsilon something else entirely here")) // shares 1 trigram
      .toDF("doc_id", "text")
    val eval = Seq((0L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, eval, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(10L, 12L))
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(r.fieldIndex("n_overlap")), r.getDouble(r.fieldIndex("contam_ratio")))).toMap
    assert(byId(10L)._1 == 3L) // 'a b g', 'b g d', 'g d e' of its 4 trigrams
    assert(byId(12L)._1 == 1L) // 'gamma delta epsilon' only
    assert(byId(10L)._2 == 3.0 / 4.0)
  }

  test("repetition: most-repeated-ngram share detects repetitive text") {
    val docs = Seq(
      (0L, "spam spam spam spam spam spam"),        // one trigram repeated 4x
      (1L, "all words here are quite different indeed"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetition(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    val r0 = out(0)
    assert(r0.getLong(r0.fieldIndex("n_ngrams")) == 4L)
    assert(r0.getLong(r0.fieldIndex("max_rep")) == 4L)
    assert(r0.getDouble(r0.fieldIndex("rep_ratio")) == 1.0)
    val r1 = out(1)
    assert(r1.getLong(r1.fieldIndex("max_rep")) == 1L)
    assert(r1.getDouble(r1.fieldIndex("rep_ratio")) < 0.3)
  }

  test("incremental dedup: in-batch keep-one plus anti-join against history") {
    val hist = Seq((0L, "seen before"), (1L, "also seen")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "seen before"),   // dropped: in history
      (11L, "brand new"),     // kept
      (12L, "brand new"),     // dropped: in-batch dup of 11
      (13L, "another new one")) // kept
      .toDF("doc_id", "text")
    val out = Dedup.dedupAgainst(batch, hist, "text", "doc_id")
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(out == Seq(11L, 13L))
  }

  test("tfIdf: rare terms outrank common ones, ties break on token, k bounds rows") {
    val docs = Seq(
      (0L, "common common common rare"),
      (1L, "common other other"),
      (2L, "common unique")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdf(docs, "text", "doc_id", k = 2)
      .orderBy("doc_id", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(5)))
    // doc 0: common tf=3/df=3 and rare tf=1/df=1 both score 1.0 → token tiebreak
    assert(out.toSeq == Seq(
      (0L, 1, "common", 1.0), (0L, 2, "rare", 1.0),
      (1L, 1, "other", 2.0), (1L, 2, "common", 1.0 / 3),
      (2L, 1, "unique", 1.0), (2L, 2, "common", 1.0 / 3)))
  }

  test("tfIdf: linear 1/df ranks a df-1 singleton above a tf-2 common term") {
    val docs = Seq(
      (0L, "common other other"),
      (1L, "common common stuff"),
      (2L, "common filler words")).toDF("doc_id", "text")
    val lin = TextAnalysis.tfIdf(docs, "text", "doc_id", k = 1)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // docs 0 and 2: the rare df-1 term wins
    assert(lin(0L) == "other")
    assert(lin(2L) == "filler")
    // doc 1: linear 1/df ranks the df-1 singleton (1/1 > 2/3)
    assert(lin(1L) == "stuff")
  }

  test("packTokens: stream positions, bins, and spans per shard") {
    def toks(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (0L, "a", toks(1000)), (1L, "a", toks(1500)), (2L, "a", toks(100)),
      (3L, "b", toks(3000))).toDF("doc_id", "lang", "text")
    val out = Packing.packTokens(docs, "text", "doc_id", "lang", capacity = 2048)
      .orderBy("doc_id")
      .select("doc_id", "stream_pos", "bin", "bin_offset", "bins_spanned")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (0L, 0L, 0L, 0L, 1L),       // fits in window 0
      (1L, 1000L, 0L, 1000L, 2L), // starts in 0, crosses into 1
      (2L, 2500L, 1L, 452L, 1L),  // window 1 after the crossing doc
      (3L, 0L, 0L, 0L, 2L)))      // shard b restarts at position 0
  }

  test("packTokens: within a shard positions are contiguous (no gaps, no overlap)") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = Packing.packTokens(docs, "text", "doc_id", "lang")
      .select("lang", "doc_id", "n_tok", "stream_pos")
      .collect()
      .groupBy(_.getString(0))
    rows.foreach { case (_, sh) =>
      val sorted = sh.sortBy(_.getLong(1))
      assert(sorted.head.getLong(3) == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b.getLong(3) == a.getLong(3) + a.getLong(2))
        case _           => ()
      }
    }
  }

  test("mixtureBalance: rarest stratum kept whole, others downsampled to it") {
    val df = ((0L until 900L).map(i => (i, "big")) ++
              (900L until 1000L).map(i => (i, "small")))
      .toDF("id", "grp")
    val out = Sampling.mixtureBalance(df, col("id"), "grp")
    val byGrp = out.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp("small") == 100L) // target stratum: rate 1 keeps everything
    assert(math.abs(byGrp("big") - 100L) < 40, s"big rate off: ${byGrp("big")}/900")
    val weights = out.select("grp", "weight").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(weights("small") == 1.0)
    assert(weights("big") == 100.0 / 900)
    // deterministic: rerun → identical accepted set
    val ids1 = out.select("id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.mixtureBalance(df, col("id"), "grp")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("redactPii: counts and replaces each PII type, leaves clean text alone") {
    val docs = Seq(
      (0L, "mail a@b.co and c.d+x@e-f.org plus call (415) 555-0100 from 10.0.0.1"),
      (1L, "no pii here just words"),
      (2L, "two ips 192.168.1.1 10.20.30.40 one mail z@y.io"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out(0).getInt(1) == 2 && out(0).getInt(2) == 1 && out(0).getInt(3) == 1)
    assert(out(0).getString(4) ==
      "mail [EMAIL] and [EMAIL] plus call [PHONE] from [IP]")
    assert(out(1).getInt(1) == 0 && out(1).getInt(2) == 0 && out(1).getInt(3) == 0)
    assert(out(1).getString(4) == "no pii here just words")
    assert(out(2).getInt(3) == 2 && out(2).getString(4) == "two ips [IP] [IP] one mail [EMAIL]")
  }

  test("redactPii: email runs before ip so dotted local parts are not half-eaten") {
    // "1.2.3.4@mail.co" — the whole address must become [EMAIL]; an IP
    // pass running first would leave "[IP]@mail.co"
    val out = TextAnalysis.redactPii(
        Seq((0L, "x 1.2.3.4@mail.co y")).toDF("doc_id", "text"), "text", "doc_id")
      .collect()(0)
    assert(out.getInt(1) == 1 && out.getInt(3) == 0)
    assert(out.getString(4) == "x [EMAIL] y")
  }

  test("removeBoilerplate: cross-doc spans go, within-doc repetition stays") {
    // "nav home login" appears in 3 of 4 docs (75 % ≥ max(2, 1%) cut);
    // "aa bb cc" repeats WITHIN doc 3 only (df = 1) and must survive.
    val docs = Seq(
      (0L, "nav home login alpha beta gamma"),
      (1L, "delta nav home login epsilon"),
      (2L, "zeta eta nav home login"),
      (3L, "aa bb cc aa bb cc theta"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.removeBoilerplate(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    val kept = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(kept(0L) == 3 && kept(1L) == 2 && kept(2L) == 2) // 3 nav tokens dropped
    assert(kept(3L) == 7) // intra-doc repetition untouched
    // doc 3's signature is the md5 of its original text (nothing removed)
    assert(out(3).getString(3) ==
      org.apache.commons.codec.digest.DigestUtils.md5Hex("aa bb cc aa bb cc theta"))
  }

  test("removeBoilerplate: overlapping hot spans drop the union of positions") {
    // hot trigrams "a b c" and "b c d" overlap; covered = positions of both
    val docs = Seq(
      (0L, "a b c d x"), (1L, "a b c d y"), (2L, "a b c d z"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.removeBoilerplate(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    // a,b,c,d all covered in every doc → one survivor each
    assert(out.forall(_.getLong(2) == 1))
  }

  test("a39 sessionize: sessions partition events and respect the 30-minute gap") {
    val rows = Analytics.queries("a39_sessionize")(spark, "/root/testdata/sf0.001")
      .collect()
    val events = graft.tables.Tables.events(spark, "/root/testdata/sf0.001").count()
    assert(rows.map(_.getLong(rows.head.fieldIndex("n_events"))).sum == events)
    rows.groupBy(_.getLong(0)).foreach { case (_, sess) =>
      val sorted = sess.sortBy(_.getLong(1))
      sorted.foreach { r =>
        assert(!r.getTimestamp(3).after(r.getTimestamp(4))) // start <= end
      }
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // next session starts strictly more than 30 min after prev end
          assert(b.getTimestamp(3).getTime - a.getTimestamp(4).getTime > 30 * 60 * 1000L)
        case _ => ()
      }
    }
  }
}
