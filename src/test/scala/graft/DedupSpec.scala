package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.ColOps

/** Dedup operators: exact, MinHash+LSH, SimHash, embedding-cosine. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away house"), // near-dup of 1
    (3L, "The quick brown fox jumps over the lazy dog and runs far away home!"), // exact dup of 1 mod punct/case
    (4L, "completely different content about distributed query engines at scale"),
    (5L, "yet another unrelated document mentioning benchmarks and parquet files")
  ).toDF("doc_id", "text")

  test("D1: exact groups collapse punctuation/case variants") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(g.length === 4) // 1&3 share a fingerprint
    val dup = g.find(_.getAs[Long]("n_copies") === 2L).get
    assert(dup.getAs[Long]("keeper_id") === 1L)
  }

  test("D2: MinHash+LSH finds the near-dup pair and verifies exact Jaccard") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, bands = 12, rowsPerBand = 4, threshold = 0.4)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("jaccard")))
    val ab = pairs.map(p => (p._1, p._2)).toSet
    assert(ab.contains((1L, 2L)) && ab.contains((1L, 3L)) && ab.contains((2L, 3L)),
      s"expected near-dup cluster {1,2,3}, got $ab")
    assert(!ab.exists(p => p._1 == 4L || p._2 == 4L))
    pairs.foreach { case (_, _, j) => assert(j >= 0.4 && j <= 1.0) }
  }

  test("D3: SimHash — identical docs at Hamming 0, near-dups close, unrelated far") {
    val sig = Dedup.simhash64(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(3L)) === 0, "normalized-identical docs must collide")
    assert(ham(sig(1L), sig(2L)) < ham(sig(1L), sig(4L)),
      "near-dup must be closer than unrelated")
  }

  test("D2: native MinhashAgg matches the 48-column min formulation exactly") {
    val native = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 48)
      .collect().map(r => r.getAs[Long]("id") -> r.getSeq[Long](1)).toMap
    val wide = DedupOracle.minhashSignaturesCols(docs, "doc_id", "text", 3, 48)
      .collect().map(r => r.getAs[Long]("id") ->
        (0 until 48).map(k => r.getAs[Long](s"h$k"))).toMap
    assert(native.keySet === wide.keySet)
    native.foreach { case (id, sig) => assert(sig === wide(id), s"doc $id") }
  }

  test("D3: native SimhashAgg matches the 64-column vote formulation exactly") {
    val native = Dedup.simhash64(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    val spec = Dedup.simhash64Cols(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(native === spec)
  }

  test("D2: native PortableMinhash matches the md5/affine Column spec exactly") {
    // the Column formulation is the executable spec the DuckDB oracle
    // replays; the native one-buffer fold must be bit-identical to it
    val numHashes = 48
    val sh = docs.select(col("doc_id"),
      Dedup.shingles(col("text"), 3).as("sh"))
    val native = sh.select(col("doc_id"),
      graft.functions.PortableMinhash.portableMinhash(col("sh"), numHashes).as("sig"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    val spec = sh.select(col("doc_id"),
      graft.functions.ColOps.bindLet(
        transform(col("sh"), x =>
          conv(substring(md5(x), 1, 15), 16, 10).cast("long") % Dedup.PortableP),
        hs =>
          transform(sequence(lit(0), lit(numHashes - 1)),
            k => array_min(transform(hs,
              h => (h * (k * 1000003 + 12345) + k * 999331) % Dedup.PortableP)))).as("sig"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    assert(native === spec)
  }

  test("D2/D3: native folds match specs on randomized corpora (empty/short/unicode)") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abc déü 漢字 01!@#   "
    val rdocs = (1L to 60L).map { i =>
      (i, (0 until rnd.nextInt(40))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }.toDF("doc_id", "text")
    val sh = rdocs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val mhNative = sh.select(col("doc_id"),
      graft.functions.PortableMinhash.portableMinhash(col("sh"), 48).as("sig"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    val mhSpec = sh.select(col("doc_id"),
      graft.functions.ColOps.bindLet(
        transform(col("sh"), x =>
          conv(substring(md5(x), 1, 15), 16, 10).cast("long") % Dedup.PortableP),
        hs => transform(sequence(lit(0), lit(47)),
          k => array_min(transform(hs,
            h => (h * (k * 1000003 + 12345) + k * 999331) % Dedup.PortableP)))).as("sig"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    assert(mhNative === mhSpec)
    val shNative = rdocs.select(col("doc_id"),
      Dedup.simhashBitsPortable(col("text")).as("bits")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Int](1)).toMap
    val shSpec = rdocs.select(col("doc_id"),
      DedupOracle.simhashBitsPortableSpec(col("text")).as("bits")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Int](1)).toMap
    assert(shNative === shSpec)
  }

  test("D2: portable (md5-hex) MinHash+LSH finds the same near-dup cluster") {
    val pairs = Dedup.minhashLshPairsPortable(docs, "doc_id", "text",
      shingleN = 3, bands = 12, rowsPerBand = 4, threshold = 0.4)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("jaccard")))
    val ab = pairs.map(p => (p._1, p._2)).toSet
    assert(ab.contains((1L, 2L)) && ab.contains((1L, 3L)) && ab.contains((2L, 3L)),
      s"expected near-dup cluster {1,2,3}, got $ab")
    assert(!ab.exists(p => p._1 == 4L || p._2 == 4L))
    // exact-Jaccard verify is hash-free, so portable == xxhash64 on shared pairs
    val fast = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, bands = 12, rowsPerBand = 4, threshold = 0.4)
      .withColumn("jaccard", round(col("jaccard"), 4))
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Double]("jaccard")).toMap
    pairs.foreach { case (a, b, j) =>
      fast.get((a, b)).foreach(jf => assert(math.abs(jf - j) < 1e-9, s"($a,$b)"))
    }
  }

  test("D3: native PortableSimhash matches the md5-nibble Column spec exactly") {
    val native = docs.select(col("doc_id"),
      Dedup.simhashBitsPortable(col("text")).as("bits")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Int](1)).toMap
    val spec = docs.select(col("doc_id"),
      DedupOracle.simhashBitsPortableSpec(col("text")).as("bits")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Int](1)).toMap
    assert(native === spec)
  }

  test("D3: portable SimHash bits — identical docs collide, near-dups close") {
    val sig = docs.select(col("doc_id"),
      Dedup.simhashBitsPortable(col("text")).as("bits")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Int](1)).toMap
    sig.values.foreach { bits =>
      assert(bits.length === 64 && bits.forall(b => b == 0 || b == 1))
    }
    def ham(a: Seq[Int], b: Seq[Int]) = a.zip(b).count(p => p._1 != p._2)
    assert(ham(sig(1L), sig(3L)) === 0, "normalized-identical docs must collide")
    assert(ham(sig(1L), sig(2L)) < ham(sig(1L), sig(4L)))
    val pairs = Dedup.simhashNearPairsPortable(docs, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    assert(pairs.contains((1L, 3L)), s"exact dup pair missing from $pairs")
  }

  test("D3: packed-word pair listing == the bit-array formulation (r18)") {
    // the r18 rewrite carries ONE packed long through the bucket shuffle and
    // verifies Hamming as bit_count(xor); this pins it row-identical to the
    // array-carrying zip_with formulation it replaced, on a corpus with
    // exact dups, near dups and unrelated docs plus a randomized tail
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefgh ".toCharArray
    val tail = (10L to 69L).map { i =>
      (i, (0 until 120).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val corpus = docs.unionByName(tail.toDF("doc_id", "text"))
    def arrayFormulation(maxHamming: Int, maxBucket: Int) = {
      val sig = corpus.select(col("doc_id").as("id"),
        Dedup.simhashBitsPortable(col("text")).as("bits"))
      val chunkRows = sig
        .select(col("id"), col("bits"), explode(sequence(lit(0), lit(3))).as("c"))
        .select(col("id"), col("bits"), concat(col("c").cast("string"), lit("#"),
          concat_ws("", transform(slice(col("bits"), col("c") * 16 + 1, lit(16)),
            _.cast("string")))).as("bk"))
      val buckets = chunkRows.groupBy("bk")
        .agg(collect_list(struct(col("id"), col("bits"))).as("xs"))
        .filter(size(col("xs")).between(2, maxBucket))
      val ham = aggregate(
        zip_with(col("ab"), col("bb"), (x, y) => when(x =!= y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v)
      buckets
        .select(explode(col("xs")).as("x"), col("xs"))
        .select(col("x.id").as("a"), col("x.bits").as("ab"), explode(col("xs")).as("y"))
        .filter(col("a") < col("y.id"))
        .select(col("a"), col("ab"), col("y.id").as("b"), col("y.bits").as("bb"))
        .distinct()
        .withColumn("hamming", ham.cast("long"))
        .filter(col("hamming") <= maxHamming)
        .select(col("a"), col("b"), col("hamming"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("hamming")))
      .toSet
    val packed = rows(Dedup.simhashNearPairsPortable(corpus, "doc_id", "text",
      maxHamming = 20))
    val spec = rows(arrayFormulation(maxHamming = 20, maxBucket = 256))
    assert(packed === spec)
    assert(packed.nonEmpty, "fixture must exercise at least one pair")
  }

  test("D4: the block cap drops a pathological shared-prefix block whole") {
    // 600 docs sharing one 32-char normalized prefix (a boilerplate header)
    // would expand ~180k candidate pairs; the cap drops the block instead
    val boiler = (1L to 600L).map(i =>
      (i, s"the quick brown fox jumps over the lazy dog unique tail $i"))
      .toDF("doc_id", "text")
    val out = Dedup.prefixBlockedJaccard(boiler, "doc_id", "text",
      prefixLen = 32, threshold = 0.0, maxBlock = 256)
    assert(out.count() === 0L, "an over-cap block must not produce pairs")
    // under the cap the same corpus pairs normally
    val small = boiler.filter(col("doc_id") <= 10)
    assert(Dedup.prefixBlockedJaccard(small, "doc_id", "text",
      prefixLen = 32, threshold = 0.5).count() > 0L)
  }

  test("D19: containment catches the quoted-subset pair Jaccard misses") {
    // doc 1 = a short source; doc 2 = the same text wrapped in a long
    // boilerplate tail (same prefix, so they block together). Containment
    // of 1 in 2 is exactly 1.0 while Jaccard is diluted by the wrapper.
    val srcWords = "alpha beta gamma delta epsilon zeta eta theta"
    val tail = (1 to 24).map(i => s"wrapper$i").mkString(" ")
    val docs = Seq(
      (1L, srcWords),
      (2L, s"$srcWords $tail"),
      (3L, "completely different text that blocks alone")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
      prefixLen = 32, threshold = 0.8, maxBlock = 256).collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getLong(0) === 1L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === 1.0, "all 8 source tokens appear in the wrapper doc")
    assert(r.getDouble(3) === 8.0 / 32.0, "reverse direction diluted by the 24-word tail")
    // the SAME pair is invisible to d4 at its threshold: jaccard = 8/32
    val j = Dedup.prefixBlockedJaccard(docs, "doc_id", "text",
      prefixLen = 32, threshold = 0.35, maxBlock = 256).collect()
    assert(!j.exists(x => x.getLong(0) == 1L && x.getLong(1) == 2L),
      "jaccard at 0.35 misses the asymmetric-subset pair")
  }

  test("D8: contamination rate — benchmark dup flagged 1.0, unrelated 0.0") {
    val benchmark = docs.filter(col("doc_id") === 1L)
    val out = Dedup.contaminationRate(docs, "doc_id", "text", benchmark, "text",
      shingleN = 3).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("rate")).toMap
    assert(out(1L) === 1.0, "benchmark doc itself fully contaminated")
    assert(out(3L) === 1.0, "normalized-identical doc fully contaminated")
    assert(out(4L) === 0.0 && out(5L) === 0.0, "unrelated docs clean")
    assert(out(2L) > 0.0 && out(2L) < 1.0, "near-dup partially contaminated")
  }

  test("D6: canonicalize collapses transitive pair chains to min-id clusters") {
    // 1-2, 2-3 (chain), 5-6, isolated 9-10
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 10L)).toDF("a", "b")
    val out = Dedup.canonicalize(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("keeper_id")).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L, 10L -> 9L))
  }

  test("D6: long chain converges (log-round propagation)") {
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Dedup.canonicalize(pairs, maxIter = 20).collect()
    assert(out.forall(_.getAs[Long]("keeper_id") === 1L))
  }

  test("D5: embedding near-dup within block finds parallel vectors only") {
    val e = Seq(
      (1L, 0, Seq(1.0f, 0.0f, 0.0f)),
      (2L, 0, Seq(2.0f, 0.0f, 0.0f)),  // same direction as 1 → cosine 1.0
      (3L, 0, Seq(0.0f, 1.0f, 0.0f)),  // orthogonal
      (4L, 1, Seq(1.0f, 0.0f, 0.0f))   // parallel to 1 but different block
    ).toDF("vec_id", "label", "embedding")
    val out = Dedup.embeddingNearDup(e, "vec_id", "embedding", "label", 0.9)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    assert(out.toSet === Set((1L, 2L)))
  }

  test("D9: dupSpans flags a boilerplate span shared across documents") {
    val span = (1 to 16).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, span + " " + (1 to 16).map(i => s"x$i").mkString(" ")),
      (2L, span + " " + (1 to 16).map(i => s"y$i").mkString(" ")),
      (3L, (1 to 32).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val rows = Dedup.dupSpans(docs, "doc_id", "text", window = 16)
      .orderBy("id").collect()
    // docs 1 and 2 share exactly their first 16-token chunk; doc 3 is clean
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 0L)))
    assert(rows(0).getDouble(3) === 0.5)
  }

  test("D13: a batch id colliding with a corpus id verifies against its OWN text") {
    val b = (1 to 30).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, b), (7L, b)).toDF("doc_id", "text") // dup pair in history
    // batch re-crawls id 7 with a REVISED page: near its history copy but
    // not identical — the verify must score the batch text, not doc 7's
    // old corpus text (which would report jaccard 1.0)
    val batch = Seq((7L, b + " freshly added tail")).toDF("doc_id", "text")
    val out = Dedup.incrementalScreen(corpus, batch, "doc_id", "text",
      threshold = 0.4).collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getString(1) === "near" && r.getLong(2) === 1L)
    assert(r.getDouble(3) < 1.0,
      s"jaccard ${r.getDouble(3)} must reflect the revised batch text, not the stale corpus copy")
  }

  test("D15: screening against a saved+loaded index equals the inline screen") {
    val rnd = new scala.util.Random(11)
    def doc(): String = (1 to 32).map(_ => s"tok${rnd.nextInt(40)}").mkString(" ")
    val all = (1L to 30L).map(i => (i, doc()))
    val corpus = all.take(20).toDF("doc_id", "text")
    val batch = all.drop(20).toDF("doc_id", "text")
    val inline = Dedup.incrementalScreen(corpus, batch, "doc_id", "text",
      threshold = 0.3).collect().map(_.toSeq).toSet
    val dir = java.nio.file.Files.createTempDirectory("dedupidx").toString
    Dedup.saveIndex(Dedup.buildIndex(corpus, "doc_id", "text"), dir)
    val viaIndex = Dedup.screenAgainstIndex(Dedup.loadIndex(spark, dir),
      batch, "doc_id", "text", threshold = 0.3).collect().map(_.toSeq).toSet
    assert(viaIndex === inline,
      "the persisted-index path must be verdict-identical to the inline screen")
  }

  test("D15: the persisted index records its build params and a mismatched screen fails fast") {
    val corpus = Seq((1L, (1 to 30).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("dedupidxp").toString
    Dedup.saveIndex(Dedup.buildIndex(corpus, "doc_id", "text",
      shingleN = 3, bands = 12, rowsPerBand = 4), dir)
    val loaded = Dedup.loadIndex(spark, dir)
    assert(loaded.params === Some(Dedup.IndexParams(3, 12, 4, 64)),
      "load must round-trip the build-time LSH parameters")
    // a mismatched screen would not error on its own — band keys simply
    // never collide and every verdict silently degrades to exact/new
    val ex = intercept[IllegalArgumentException] {
      Dedup.screenAgainstIndex(loaded, corpus, "doc_id", "text",
        shingleN = 5, bands = 12, rowsPerBand = 4)
    }
    assert(ex.getMessage.contains("do not match the index build params"))
  }

  test("D13: the handles variant exposes exactly the frames it persisted") {
    val corpus = Seq((1L, (1 to 30).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Seq((2L, (1 to 30).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val (out, handles) = Dedup.incrementalScreenHandles(corpus, batch,
      "doc_id", "text", threshold = 0.4)
    assert(out.collect().length === 1)
    assert(handles.nonEmpty && handles.forall(_.storageLevel.useMemory),
      "handles must be the persisted frames (so a loop caller can release them)")
    handles.foreach(_.unpersist(blocking = true))
    assert(handles.forall(h => !h.storageLevel.useMemory),
      "unpersisting the handle must actually release the cached frame")
  }

  test("D13/T15 invariants on a randomized overlapping corpus") {
    val rnd = new scala.util.Random(42)
    // documents assembled from a 40-token vocab in 16-token runs — heavy
    // chunk overlap by construction
    def doc(): String =
      (1 to 32).map(_ => s"tok${rnd.nextInt(40)}").mkString(" ")
    val all = (1L to 30L).map(i => (i, doc()))
    val df = all.toDF("doc_id", "text")

    val nv = Dedup.novelSpans(df, "doc_id", "text", window = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(nv.length === 30)
    nv.foreach { case (id, nChunks, nNovel, frac) =>
      assert(nNovel >= 0 && nNovel <= nChunks, s"doc $id novel out of range")
      assert(frac >= 0.0 && frac <= 1.0)
    }
    // the min-id doc can never have seen any chunk earlier
    val first = nv.minBy(_._1)
    assert(first._2 === first._3, "min-id doc must be fully novel")

    val corpus = df.filter($"doc_id" <= 20)
    val batch = df.filter($"doc_id" > 20)
      .unionByName(Seq((100L, all.head._2)).toDF("doc_id", "text")) // exact copy of doc 1
    val out = Dedup.incrementalScreen(corpus, batch, "doc_id", "text",
      threshold = 0.3).collect()
    assert(out.length === 11, "exactly one verdict per batch doc")
    val byId = out.map(r => r.getLong(0) ->
      ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(byId(100L)._1 === "exact" && byId(100L)._2 === Some(1L))
    byId.foreach { case (id, (verdict, m)) =>
      assert(m.isEmpty === (verdict == "new"),
        s"doc $id: match attribution must accompany exactly the non-new verdicts")
    }
  }

  test("D13: incrementalScreen verdicts — exact beats near beats new") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, base),                                   // indexed original
      (2L, (100 to 130).map(i => s"q$i").mkString(" "))
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base),                                  // byte-identical → exact
      (11L, base + " extra trailing words here"),   // high-overlap → near
      (12L, (200 to 230).map(i => s"z$i").mkString(" ")) // unseen → new
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalScreen(corpus, batch, "doc_id", "text",
      threshold = 0.4).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(out.toSeq === Seq(
      (10L, "exact", 1L), (11L, "near", 1L), (12L, "new", -1L)))
  }

  test("T15: novelSpans credits the first occurrence to the min-id doc") {
    val span = (1 to 16).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, span + " " + (1 to 16).map(i => s"x$i").mkString(" ")),
      (2L, span + " " + (1 to 16).map(i => s"y$i").mkString(" ")),
      (3L, (1 to 32).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val rows = Dedup.novelSpans(docs, "doc_id", "text", window = 16)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // doc 1 owns the shared span (min id) → fully novel; doc 2 loses that
    // chunk; doc 3 never overlaps
    assert(rows.toSeq === Seq(
      (1L, 2L, 2L, 1.0), (2L, 2L, 1L, 0.5), (3L, 2L, 2L, 1.0)))
  }

  test("D10: scrubDupSpans keeps the first global occurrence, cuts the rest") {
    val span = (1 to 16).map(i => s"b$i").mkString(" ")
    val x = (1 to 16).map(i => s"x$i").mkString(" ")
    val y = (1 to 16).map(i => s"y$i").mkString(" ")
    val docs = Seq(
      (1L, span + " " + x),            // first occurrence of span → kept whole
      (2L, span + " " + y),            // span cut, y kept
      (3L, span + " " + span),         // both chunks cut (seen in doc 1)
      (4L, y + " " + y)                // within-doc repeat: second copy cut
    ).toDF("doc_id", "text")
    val rows = Dedup.scrubDupSpans(docs, "doc_id", "text", window = 16)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows(0) === ((1L, 2L, 2L, span + " " + x)))
    assert(rows(1) === ((2L, 2L, 1L, y)))
    assert(rows(2) === ((3L, 2L, 0L, "")))
    // doc 4's y chunk was already claimed by doc 2 (lower id), so BOTH copies cut
    assert(rows(3) === ((4L, 2L, 0L, "")))
  }

  test("D10: a unique corpus round-trips unchanged") {
    val docs = Seq(
      (1L, (1 to 40).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 40).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val rows = Dedup.scrubDupSpans(docs, "doc_id", "text", window = 16)
      .orderBy("id").collect()
    val orig = docs.orderBy("doc_id").collect().map(_.getString(1))
    assert(rows.map(_.getString(3)).toSeq === orig.toSeq)
    assert(rows.forall(r => r.getLong(1) === r.getLong(2)))
  }

  test("D17: bloomScreen equals the plain fingerprint anti-join on a randomized corpus") {
    val rnd = new scala.util.Random(17)
    // history and batch share ~half their contents; batch carries a
    // within-batch duplicate pair that must BOTH survive (screen is
    // against history only, not within-batch)
    val pool = (1 to 120).map(i => s"document number $i body " + rnd.nextInt(40))
    val history = pool.take(80).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // pool(60..79) overlap history, pool(80..109) are new; the appended
    // repeat of pool(100) is a within-batch duplicate NOT in history —
    // both its copies must survive (the screen is against history only)
    val batchTexts = pool.drop(60).take(50) :+ pool(100)
    val batch = batchTexts.zipWithIndex
      .map { case (t, i) => (1000L + i, t) }.toDF("doc_id", "text")
    val got = Dedup.bloomScreen(history, batch, "doc_id", "text")
      .select("id").as[Long].collect().sorted.toSeq
    val fp = graft.text.TextAnalysis.fingerprint(col("text"))
    val want = batch.select(col("doc_id"), fp.as("fp"))
      .join(history.select(fp.as("fp")), Seq("fp"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got === want, s"bloom screen diverged from the anti-join")
    assert(want.nonEmpty && want.length < batch.count(), "split must be non-trivial")
  }

  test("D17: a batch with no overlap passes whole; a fully-seen batch empties") {
    val hist = (1 to 30).map(i => (i.toLong, s"seen doc $i")).toDF("doc_id", "text")
    val fresh = (1 to 10).map(i => (100L + i, s"fresh doc $i")).toDF("doc_id", "text")
    assert(Dedup.bloomScreen(hist, fresh, "doc_id", "text").count() === 10L)
    val seen = (1 to 10).map(i => (200L + i, s"seen doc $i")).toDF("doc_id", "text")
    assert(Dedup.bloomScreen(hist, seen, "doc_id", "text").count() === 0L)
  }

  test("D18: the sharded screen equals the unsharded one verdict-for-verdict") {
    val rnd = new scala.util.Random(18)
    val pool = (1 to 150).map(i => s"sharded doc $i payload " + rnd.nextInt(50))
    val history = pool.take(100).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val batch = (pool.drop(70).take(60)).zipWithIndex
      .map { case (t, i) => (2000L + i, t) }.toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().sorted.toSeq
    val plain = ids(Dedup.bloomScreen(history, batch, "doc_id", "text"))
    // non-power-of-two shard count, and a shard count far above the key
    // count (most shards empty -> null-sketch rows exercise the left join)
    Seq(1, 3, 64).foreach { s =>
      val sharded = ids(Dedup.bloomScreenSharded(history, batch, "doc_id",
        "text", nShards = s))
      assert(sharded === plain, s"nShards=$s diverged")
    }
    // auto-sharding picks a valid shard count from the expected keys
    assert(ids(Dedup.bloomScreenSharded(history, batch, "doc_id", "text",
      expectedHistoryKeys = 100L)) === plain)
    assert(plain.nonEmpty && plain.length < batch.count(), "split must be non-trivial")
  }
}

/** Column-only reference formulations the native Dedup expressions are
  * pinned against — test oracles, not production paths.
  */
object DedupOracle {
  import Dedup.{shingles, tokens}

  /** Wide-column MinHash formulation (`numHashes` separate
    * `min(xxhash64(sh, k))` aggregates) — the executable spec the native
    * aggregate must match value-for-value.
    */
  def minhashSignaturesCols(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 48): DataFrame = {
    val ex = ColOps.parallelize(df)
      .select(col(idCol).as("id"), explode(shingles(col(textCol), shingleN)).as("sh"))
    val aggs = (0 until numHashes).map(k => min(xxhash64(col("sh"), lit(k))).as(s"h$k"))
    ex.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** The Column-only executable SPEC of [[Dedup.simhashBitsPortable]] — 64
    * interpreted vote folds per document; kept for the DedupSpec parity
    * test pinning the native one-buffer fold bit-identical to it (and to
    * the SQL the oracle replays).
    */
  def simhashBitsPortableSpec(text: Column): Column =
    ColOps.bindLet(
      transform(array_distinct(tokens(text)), w => substring(md5(w), 1, 16)),
      h =>
        transform(sequence(lit(0), lit(63)), j => {
          val vote = (x: Column) => {
            val a = ascii(x.substr(floor(j / 4).cast("int") + 1, lit(1)))
            val nib = when(a >= 97, a - 87).otherwise(a - 48)
            val bit = floor(nib / pow(lit(2d), (j % 4).cast("double"))).cast("int") % 2
            when(bit === 1, 1).otherwise(-1)
          }
          when(aggregate(h, lit(0), (acc, x) => acc + vote(x)) > 0, lit(1))
            .otherwise(lit(0))
        }))
}
