package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("fuzzyMatchTopK: per-doc output cap, truncation count, best-first order") {
    // one 4-doc shared-prefix block (every doc has 3 candidates) + a loner
    val pfx = "a" * 16
    val docs = Seq(
      (1L, s"$pfx wolf"), (2L, s"$pfx wolfe"), (3L, s"$pfx wolff"),
      (4L, s"$pfx xylophone zeb"), (5L, "completely different text")
    ).toDF("doc_id", "text")
    val all = TextAnalysis.fuzzyMatchBlocked(docs, "doc_id", "text",
      headLen = 48, pfxLen = 16, maxBlock = 256, maxLev = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sym = all.flatMap { case (a, b, l) => Seq((a, b, l), (b, a, l)) }
    val topk = TextAnalysis.fuzzyMatchTopK(docs, "doc_id", "text",
      headLen = 48, pfxLen = 16, maxBlock = 256, maxLev = 16, k = 2)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("lev"),
        r.getAs[Int]("rnk"), r.getAs[Long]("n_cands")))
    assert(!topk.exists(_._1 == 5L), "blockless doc emits nothing")
    topk.groupBy(_._1).foreach { case (a, rows) =>
      assert(rows.length <= 2, s"doc $a exceeded the output cap")
      assert(rows.map(_._4).sorted.sameElements(1 to rows.length), "consecutive ranks")
      val cands = sym.filter(_._1 == a)
      assert(rows.head._5 === cands.length.toLong, s"doc $a candidate count")
      // kept partners are exactly the brute-force best-2 by (lev, id)
      val best = cands.sortBy(c => (c._3, c._2)).take(2).map(c => (c._2, c._3)).toSeq
      assert(rows.sortBy(_._4).map(r => (r._2, r._3)).toSeq === best, s"doc $a best-first")
    }
    // the cap actually bit: a 4-doc clique gives 3 candidates each, k=2
    assert(topk.filter(_._1 == 1L).head._5 === 3L)
    assert(topk.count(_._1 == 1L) === 2)
  }

  test("pii: counts and redacts emails, ips, phones; leaves clean text alone") {
    import graft.text.Pii
    val df = Seq(
      (1L, "write to bob.smith@corp.example or 192.168.0.1 tel 555-0123"),
      (2L, "no pii here at all")
    ).toDF("id", "text")
      .select(col("id"),
        Pii.emailCount(col("text")).as("e"), Pii.ipv4Count(col("text")).as("i"),
        Pii.phoneCount(col("text")).as("p"), Pii.redact(col("text")).as("r"))
      .orderBy("id").collect()
    assert(df(0).getInt(1) === 1 && df(0).getInt(2) === 1 && df(0).getInt(3) === 1)
    assert(df(0).getString(4) === "write to <EMAIL> or <IP> tel <PHONE>")
    assert(df(1).getInt(1) === 0 && df(1).getInt(2) === 0 && df(1).getInt(3) === 0)
    assert(df(1).getString(4) === "no pii here at all")
  }

  test("pii: overlapping categories — counts match the tags actually emitted") {
    import graft.text.Pii
    // '123-45@mail.example' matches BOTH the phone and email patterns; the
    // email stage wins (it runs first), so n_phones must NOT report a match
    // that never appears as <PHONE> in the redacted output
    val r = Seq((1L, "reach me at 123-45@mail.example ok")).toDF("id", "text")
      .select(
        Pii.emailCount(col("text")).as("e"),
        Pii.phoneCount(col("text")).as("p"),
        Pii.redact(col("text")).as("r"))
      .head()
    assert(r.getInt(0) === 1)
    assert(r.getString(2) === "reach me at <EMAIL> ok")
    assert(r.getInt(1) === 0,
      "phone count must be taken on the email-redacted text")
  }

  test("repetition stats: duplicate and top 2-gram fractions, short docs kept") {
    val df = Seq((1L, "a b a b c"), (2L, "x")).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionStats(df, "doc_id", "text", n = 2)
      .orderBy("id").collect()
    // grams of doc 1: "a b", "b a", "a b", "b c" → tot 4, distinct 3, top 2
    assert(rows(0).getLong(1) === 4L)
    assert(rows(0).getDouble(2) === 0.25)
    assert(rows(0).getDouble(3) === 0.5)
    // doc 2 has one token — zero grams, but it still appears
    assert(rows(1).getLong(1) === 0L)
    assert(rows(1).getDouble(2) === 0.0 && rows(1).getDouble(3) === 0.0)
  }

  test("token counts: whitespace and BPE-ish regex") {
    val df = Seq("hello world 42", "a-b c! d").toDF("text")
      .select(TextAnalysis.tokenCount(col("text")).as("n"),
        TextAnalysis.regexTokenCount(col("text")).as("r"))
    val rows = df.collect()
    assert(rows(0).getInt(0) === 3)
    assert(rows(0).getInt(1) === 3)       // hello | world | 42
    assert(rows(1).getInt(0) === 3)       // a-b | c! | d
    assert(rows(1).getInt(1) === 6)       // a - b c ! d
  }

  test("langId picks the marker-dominant language, und when none") {
    val df = Seq(
      "the cat and the dog is here to stay",
      "der hund und die katze ist nicht da",
      "xyzzy plugh 12345"
    ).toDF("text").select(TextAnalysis.langId(col("text")).as("lang"))
    assert(df.collect().map(_.getString(0)).toSeq === Seq("en", "de", "und"))
  }

  test("qualityScore rewards long stopword-rich prose over junk") {
    val good = "the quick brown fox jumps over a lazy dog and then runs off to " +
      "the distant hills where a river flows and the grass grows tall of its own."
    val junk = "...,,,...,,,..."
    val df = Seq(good, junk).toDF("text")
      .select(TextAnalysis.qualityScore(col("text")).as("q"))
    val Array(qg, qj) = df.collect().map(_.getDouble(0))
    assert(qg > 0.8, s"good prose scored $qg")
    assert(qj < 0.4, s"junk scored $qj")
  }

  test("tfidf hand-computed oracle on a 3-doc corpus") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry cherry date")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidf(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("term")) ->
        (r.getAs[Long]("tf"), r.getAs[Long]("df"), r.getAs[Double]("tfidf"))).toMap
    // apple: tf=2 in doc1, df=1, N=3 → 2·ln(3)
    val (tf, df, v) = out((1L, "apple"))
    assert(tf === 2L && df === 1L)
    assert(math.abs(v - 2.0 * math.log(3.0)) < 1e-12)
    // banana: df=2 → ln(1.5) per occurrence
    assert(math.abs(out((2L, "banana"))._3 - math.log(1.5)) < 1e-12)
    // cherry in doc3: tf=2, df=2
    assert(math.abs(out((3L, "cherry"))._3 - 2.0 * math.log(1.5)) < 1e-12)
  }

  test("rollingFingerprint matches the reference fold, collapses punct variants") {
    def oracle(s: String): Long = {
      val norm = s.replaceAll("[^A-Za-z0-9]+", " ").toLowerCase.trim
      norm.foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)
    }
    val texts = Seq("hello world 42", "Hello, WORLD!! 42", "different text")
    val out = texts.toDF("text")
      .select(TextAnalysis.rollingFingerprint(col("text")).as("fp"))
      .collect().map(_.getLong(0))
    assert(out(0) === oracle(texts(0)))
    assert(out(0) === out(1), "normalization collapses case/punct variants")
    assert(out(2) === oracle(texts(2)))
    assert(out(0) !== out(2))
  }

  test("native RollingHash equals the HOF spec on the normalized domain") {
    val texts = Seq("hello world 42", "Hello, WORLD!! 42", "different text",
      "", "   ", "a", "1 2 3 4 5 6 7 8 9 0", "x" * 500)
    val rows = texts.toDF("text")
      .select(TextAnalysis.rollingFingerprint(col("text")).as("native"),
        TextOracle.rollingFingerprintSpec(col("text")).as("spec"))
      .collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getLong(0) === r.getLong(1), s"mismatch on '$t'")
    }
  }

  test("lmQuality: common-word docs outscore rare-word docs") {
    val corpus = (
      (1L to 8L).map(i => (i, "the cat sat on the mat " * 3)) :+
        (100L, "zyzzyva qwyjibo xylotomous")  // rare vocabulary
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lmQuality(corpus, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("avg_logprob"))).toMap
    assert(out(1L)._1 === 18L)
    assert(out(100L)._1 === 3L)
    assert(out(1L)._2 > out(100L)._2,
      s"common words must score higher: ${out(1L)._2} vs ${out(100L)._2}")
    // identical docs share the exact score (deterministic decimal fold)
    assert(out(1L)._2 === out(2L)._2)
  }

  test("chunkWindows covers every token, overlaps by window-stride") {
    val text = (1 to 100).mkString(" ")  // 100 tokens
    val chunks = Seq(text).toDF("text")
      .select(TextAnalysis.chunkWindows(col("text"), 32, 16).as("c"))
      .collect()(0).getSeq[String](0)
    // ceil((100-32)/16)+1 = 6 chunks
    assert(chunks.length === 6)
    assert(chunks(0).startsWith("1 2 ") && chunks(0).split(" ").length === 32)
    // consecutive chunks overlap by 16 tokens
    assert(chunks(1).split(" ").take(16).toSeq === chunks(0).split(" ").drop(16).toSeq)
    // last chunk ends at the last token, may be short
    assert(chunks.last.split(" ").last === "100")
    // a short doc yields exactly one chunk
    val short = Seq("a b c").toDF("text")
      .select(TextAnalysis.chunkWindows(col("text"), 32, 16).as("c"))
      .collect()(0).getSeq[String](0)
    assert(short === Seq("a b c"))
  }

  test("packSequences: packs respect the budget boundary per shard") {
    val docs = (1L to 30L).map(i => (i, if (i % 2 == 0) "en" else "de",
      Seq.fill(i.toInt % 7 + 3)("w").mkString(" "))).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.packSequences(docs, "doc_id", "text", "lang", budget = 20)
      .collect()
    out.groupBy(r => (r.getAs[String]("shard"), r.getAs[Long]("pack_id")))
      .foreach { case ((shard, pack), rows) =>
        val tokens = rows.map(_.getAs[Long]("n_tokens")).sum
        val maxDoc = rows.map(_.getAs[Long]("n_tokens")).max
        // streaming bin-pack bound: a pack exceeds budget only by the tail
        // of its straddling last document
        assert(tokens < 20 + maxDoc, s"pack ($shard,$pack) too large: $tokens")
      }
    // pack ids are dense from 0 within each shard
    out.groupBy(_.getAs[String]("shard")).foreach { case (_, rows) =>
      val packs = rows.map(_.getAs[Long]("pack_id")).distinct.sorted
      assert(packs === (0L to packs.max).toVector)
    }
  }

  test("topNgrams: hand-computed heavy hitters with count-then-gram ordering") {
    val docs = Seq(
      (1L, "spark runs fast spark runs"),
      (2L, "spark runs everywhere"),
      (3L, "nothing shared here"),
      (4L, "x") // under-length for bigrams: contributes nothing
    ).toDF("doc_id", "text")
    val top = TextAnalysis.topNgrams(docs, "doc_id", "text", n = 2, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // "spark runs" ×3 across docs 1,2; then ties at 1 break alphabetically
    assert(top(0) === (("spark runs", 3L, 2L)))
    assert(top.length === 3)
    assert(top(1)._2 === 1L && top(2)._2 === 1L && top(1)._1 < top(2)._1)
  }

  test("bpeMerges: hand-computed three-round merge table with lexicographic ties") {
    val docs = Seq(
      (1L, "The the cat"), // lowercased; "the" total freq 3 across docs
      (2L, "the hat")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.bpeMerges(docs, "text", rounds = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: "h e" and "t h" both count 3 (the×3); tie → "h e" wins lexically
    assert(m(0) === ((1, "h e", "he", 3L)))
    // round 2: "t he" now counts 3, beating "a t" (cat+hat = 2)
    assert(m(1) === ((2, "t he", "the", 3L)))
    // round 3: "the" is fully merged; "a t" (2) is the top remaining pair
    assert(m(2) === ((3, "a t", "at", 2L)))
    // the APPLY half: 15 raw chars -> 12 ("he") -> 9 ("the") -> 7 ("at")
    val c = TextAnalysis.bpeCompressionCurve(docs, "text", rounds = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(c.toSeq === Seq((0, 15L), (1, 12L), (2, 9L), (3, 7L)))
  }

  test("bpeMerges reaches the greedy fixpoint on adjacent repeated pairs") {
    // regression: one left-to-right replace pass skips the second 'p a' in
    // 'papa' (its leading space is consumed by the first merge), leaving
    // ' pa p a ' — real BPE produces ' pa pa '. The double pass must land
    // on the fixpoint, which round 3's 'pa pa' merge then proves: that pair
    // only exists if BOTH occurrences merged in round 1.
    val docs = Seq((1L, "papa papa mama")).toDF("doc_id", "text")
    val m = TextAnalysis.bpeMerges(docs, "text", rounds = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m(0) === ((1, "p a", "pa", 4L)))
    assert(m(1) === ((2, "m a", "ma", 2L)))
    assert(m(2) === ((3, "pa pa", "papa", 2L)))
    val c = TextAnalysis.bpeCompressionCurve(docs, "text", rounds = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(c.toSeq === Seq((0, 12L), (1, 8L), (2, 6L), (3, 4L)))
  }

  test("bpeEncode: per-doc token accounting under the fitted merges") {
    // fit corpus vocab: the(4), cat(1), hat(1) — 'a' (len<2) and 'b2'
    // (non-alpha) are filtered from the vocab. Merges land he → the → at,
    // so 'the'=1 symbol, 'cat'='c at'=2, 'hat'='h at'=2.
    val docs = Seq(
      (1L, "The the cat"),
      (2L, "the hat"),
      (3L, "a b2 the")
    ).toDF("doc_id", "text")
    val e = TextAnalysis.bpeEncode(docs, "doc_id", "text", rounds = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // doc1: [the,the,cat] → tokens 1+1+2, alpha chars 9, 9/4 chars/token
    assert(e(0) === ((1L, 3L, 4L, 4L, 9L, 2.25)))
    // doc2: [the,hat] → 1+2 tokens, 6 alpha chars
    assert(e(1) === ((2L, 2L, 3L, 3L, 6L, 2.0)))
    // doc3: 'a' and 'b2' cost 1 each outside the vocab; only 'the' is alpha
    assert(e(2) === ((3L, 3L, 3L, 1L, 3L, 3.0)))
  }
}

/** Column-only reference formulation the native rolling hash is pinned
  * against — a test oracle, not a production path.
  */
object TextOracle {
  import TextAnalysis.normalize

  /** The Column-only spec of [[TextAnalysis.rollingFingerprint]] (interpreted HOF fold —
    * kept for the native-vs-spec equality test, not for production use).
    */
  def rollingFingerprintSpec(text: Column): Column = {
    val norm = normalize(text)
    graft.functions.ColOps.bindLet(norm, s =>
      aggregate(
        transform(sequence(lit(1), length(s)), i => ascii(s.substr(i, lit(1))).cast("long")),
        lit(0L),
        (h, c) => (h * 31L + c) % 1000000007L))
  }
}
