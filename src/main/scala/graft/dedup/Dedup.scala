package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ColOps
import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. All set-oriented — no pairwise O(n²) work
  * except inside LSH buckets, which are size-capped (skew guard): at 100 TB a
  * single hot bucket must not become a cross-join.
  */
object Dedup {

  /** Normalized word-token array (shared normalization with
    * [[TextAnalysis.fingerprint]]).
    */
  def tokens(text: Column): Column =
    split(TextAnalysis.normalize(text), " ", -1)

  /** Exact dedup groups by content fingerprint: one row per distinct
    * fingerprint with the keeper (min id) and multiplicity. A plain
    * hash-aggregate — map-side partial, one shuffle on the fingerprint.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min("id").as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Bloom-pre-screened EXACT dedup of a batch against a history corpus.
    * The result is exactly `batch ▷ history` (anti-join on the content
    * fingerprint — a Bloom filter has no false negatives, so no new row is
    * ever lost), but the anti-join's shuffle sees only the Bloom "maybe"
    * rows: at a plausible 1% false-positive rate, 99% of genuinely-new rows
    * are admitted by a broadcast bitset probe at the batch scan and never
    * reach an exchange. That is the 100 TB shape — screening a daily crawl
    * increment against a multi-billion-document archive costs one
    * sketch-build aggregation over history fingerprints (amortizable across
    * days; rebuild only on archive compaction since deletes don't matter
    * for an append-only archive) plus a shuffle proportional to
    * `|batch| × fpRate + |true dups|`, not `|batch|`. Beyond the 16 MiB
    * task-binary envelope ([[graft.functions.BloomSketch.sizeBits]], ≈10⁷
    * keys) shard the sketch by fingerprint prefix into per-shard bitsets
    * probed in sequence, or fall back to the plain shuffle anti-join.
    *
    * The batch side is scanned twice (definitely-new branch + maybe
    * branch); the batch is the small delta, and both scans prune to
    * `(id, text)` at the reader. History pays two linear fingerprint
    * passes (sketch build + the exact-verify join side) — pass
    * `expectedHistoryKeys` (the store's A3 row accounting has it for free)
    * or sizing the bitset costs a third.
    */
  def bloomScreen(history: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, expectedHistoryKeys: Long = -1L,
      bitsPerKey: Int = 10, numHashes: Int = 5): DataFrame = {
    import graft.functions.BloomSketch
    val histFp = history.select(TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val n = if (expectedHistoryKeys > 0) expectedHistoryKeys else histFp.count()
    val words = BloomSketch.build(
      histFp, col("fp"), BloomSketch.sizeBits(n, bitsPerKey), numHashes)
    val b = batch.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val definitelyNew = b.filter(!BloomSketch.mightContain(col("fp"), words, numHashes))
    val maybeDup = b.filter(BloomSketch.mightContain(col("fp"), words, numHashes))
    // only the FP-rate-bounded residue pays the exchange; exact verify
    // restores precision, so the union is value-identical to the anti-join
    val verifiedNew = maybeDup.join(histFp, Seq("fp"), "left_anti")
    definitelyNew.unionByName(verifiedNew.select("id", "fp"))
  }

  /** The SHARDED form of [[bloomScreen]] — past the ~16 MiB task-binary
    * envelope (≈10⁷ history keys) ONE bitset no longer ships; here the
    * sketch never touches the driver at all. History fingerprints group by
    * `shard = pmod(xxhash64(fp), nShards)` and ONE aggregation pass builds
    * every shard's bitset (map-side partial ORs per shard, a result of
    * nShards sketch-sized rows). The batch derives the same shard key and
    * JOINS its shard's sketch row — each task holds only the sketches its
    * rows joined, so total sketch size is bounded by executor memory, not
    * the task binary. The bloom hash is `xxhash64(xxhash64(fp))` — re-mixed
    * so probe positions stay decorrelated from the shard key (sharding on
    * the raw hash would pin the first probe's low bits within a shard).
    * Exactness is unchanged: no false negatives, and the "maybe" residue
    * verifies against the exact fingerprints — the result is value-identical
    * to [[bloomScreen]] and to the plain anti-join.
    *
    * `nShards <= 0` sizes automatically from `expectedHistoryKeys` so each
    * shard's bitset stays within [[graft.functions.BloomSketch.sizeBits]]'s
    * envelope.
    */
  def bloomScreenSharded(history: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, expectedHistoryKeys: Long = -1L, nShards: Int = 0,
      bitsPerKey: Int = 10, numHashes: Int = 5): DataFrame = {
    import graft.functions.BloomSketch
    val histFp = history.select(TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val n = if (expectedHistoryKeys > 0) expectedHistoryKeys else histFp.count()
    val shards = if (nShards > 0) nShards
      else math.max(1L, (n * bitsPerKey + (1L << 27) - 1) >> 27).toInt
    val shardBits = BloomSketch.sizeBits((n + shards - 1) / shards, bitsPerKey)
    val shardOf = pmod(xxhash64(col("fp")), lit(shards.toLong))
    val bloomHash = xxhash64(xxhash64(col("fp")))
    val sketches = histFp
      .groupBy(shardOf.as("shard"))
      .agg(BloomSketch.bloomAgg(bloomHash, shardBits, numHashes).as("bf"))
    val b = batch.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .withColumn("shard", shardOf)
    // LEFT join: a shard with NO sketch row means no history key hashed
    // there — every batch row in it is definitely new (null bf)
    val probed = b.join(sketches, Seq("shard"), "left")
    val hit = col("bf").isNotNull &&
      BloomSketch.mightContainBytes(bloomHash, col("bf"), numHashes)
    val definitelyNew = probed.filter(!hit).select("id", "fp")
    val maybeDup = probed.filter(hit).select("id", "fp")
    definitelyNew.unionByName(maybeDup.join(histFp, Seq("fp"), "left_anti")
      .select("id", "fp"))
  }

  /** `n`-word shingle set of a document (distinct, order-free). The token
    * array is let-bound so the tokenize runs once per row, not once per
    * shingle (see [[ColOps.bindLet]]).
    */
  def shingles(text: Column, n: Int): Column =
    ColOps.bindLet(tokens(text), ws =>
      array_distinct(
        transform(
          sequence(lit(0), greatest(size(ws) - n, lit(0))),
          i => concat_ws(" ", slice(ws, i + 1, lit(n))))))

  /** MinHash signature: `numHashes` min-of-hash values over the shingle
    * set, as ONE native array aggregate ([[graft.functions.MinhashAgg]]) —
    * one explode + one hash-aggregate with a single buffer per group.
    * Output: `(id, sig: array<long>)`.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 48): DataFrame =
    ColOps.parallelize(df)
      .select(col(idCol).as("id"), explode(shingles(col(textCol), shingleN)).as("sh"))
      .groupBy("id")
      .agg(graft.functions.MinhashAgg.minhash(col("sh"), numHashes).as("sig"))

  /** MinHash + LSH near-duplicate candidate pairs, verified with exact
    * shingle Jaccard. `bands` × `rowsPerBand` must equal `numHashes`.
    *
    * Pipeline: signatures → band hashes → explode to (band, bucket) →
    * group buckets (size-capped at `maxBucket` — LSH skew guard) → in-bucket
    * pair expansion → distinct pairs → exact-verify join.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 12, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 64): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sig = minhashSignatures(df, idCol, textCol, shingleN, numHashes)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
          lit(0x5eed + b)).as("bucket"))
    }
    val bandRows = sig.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
    val buckets = bandRows.groupBy("band", "bucket")
      .agg(collect_list("id").as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    val pairs = buckets
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
    // Exact verify on PRE-COMPUTED shingle arrays (shingling inside the
    // jaccard expression would re-tokenize each text 4× per candidate pair).
    val sh = ColOps.parallelize(df)
      .select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
    val jac = size(array_intersect(col("sha"), col("shb"))).cast("double") /
      size(array_union(col("sha"), col("shb"))).cast("double")
    pairs
      .join(sh.select(col("id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sh.select(col("id").as("b"), col("sh").as("shb")), Seq("b"))
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Word-Jaccard near-dup pairs blocked by normalized-text prefix: cheap
    * candidate generation (equi-join on the first `prefixLen` normalized
    * chars) followed by exact word-set Jaccard on let-bound token arrays.
    * Prefix blocking catches the append/truncate near-dup shape; use
    * [[minhashLshPairs]] when edits may hit the document head.
    *
    * Blocks are size-capped at `maxBlock` — the same skew guard as the LSH
    * buckets: N documents sharing one prefix (empty docs, a boilerplate
    * header) would otherwise expand N²/2 candidate pairs carrying full
    * token arrays. The pre-filter is a semi-join on the SAME key as the
    * pair join, so it rides the same shuffle partitioning.
    */
  def prefixBlockedJaccard(df: DataFrame, idCol: String, textCol: String,
      prefixLen: Int = 32, threshold: Double = 0.35,
      maxBlock: Int = 256): DataFrame = {
    val norm = TextAnalysis.normalize(col(textCol))
    val allSides = ColOps.parallelize(df).select(
      col(idCol).as("id"),
      array_distinct(tokens(col(textCol))).as("ws"),
      substring(norm, 1, prefixLen).as("pfx"))
    val keep = allSides.groupBy("pfx").agg(count(lit(1)).as("bn"))
      .filter(col("bn").between(2, maxBlock))
      .select("pfx")
    // ONE explicit exchange on the block key, shared by both self-join
    // sides (r17, guide §2.4): with the rename projections BELOW the
    // join's implicit exchanges the two subtrees don't canonicalize
    // equal, so the tokenize+normalize pass over the corpus ran once PER
    // SIDE (4 scans in the d4 plan). Renaming ABOVE one repartition makes
    // the second side a ReusedExchange — one corpus pass, one shuffle
    // (PlanAuditSpec pins the reused stage on the executed plan).
    val sides = allSides.join(keep, Seq("pfx"), "left_semi")
      .repartition(col("pfx"))
    val a = sides.select(col("pfx"), col("id").as("a"), col("ws").as("wa"))
    val b = sides.select(col("pfx"), col("id").as("b"), col("ws").as("wb"))
    val inter = size(array_intersect(col("wa"), col("wb"))).cast("double")
    val da = size(col("wa")).cast("double")
    val db = size(col("wb")).cast("double")
    a.join(b, Seq("pfx"))
      .filter(col("a") < col("b"))
      .withColumn("jaccard", inter / (da + db - inter))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Directed CONTAINMENT pairs — |A∩B|/|A| and |A∩B|/|B| over distinct
    * token sets, the asymmetric overlap Jaccard misses: a short document
    * wholly quoted inside a long one scores containment ≈ 1 while its
    * Jaccard stays low (the denominator is the union). The
    * boilerplate-wrapper / quoted-source detection every curation pipeline
    * needs next to [[prefixBlockedJaccard]]. Same prefix blocking and
    * block cap (this catches shared-prefix wrappers — template pages
    * prepending boilerplate; arbitrary-position containment is the chunk
    * fingerprint family's job, d9/t15). Emits both directions RAW (each is
    * a quotient of exact integers — bit-identical cross-engine; a
    * per-engine round would diverge on decimal halves).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      prefixLen: Int = 32, threshold: Double = 0.8,
      maxBlock: Int = 256): DataFrame = {
    val norm = TextAnalysis.normalize(col(textCol))
    val allSides = ColOps.parallelize(df).select(
      col(idCol).as("id"),
      array_distinct(tokens(col(textCol))).as("ws"),
      substring(norm, 1, prefixLen).as("pfx"))
    val keep = allSides.groupBy("pfx").agg(count(lit(1)).as("bn"))
      .filter(col("bn").between(2, maxBlock))
      .select("pfx")
    // shared-exchange self-join — see prefixBlockedJaccard
    val sides = allSides.join(keep, Seq("pfx"), "left_semi")
      .repartition(col("pfx"))
    val a = sides.select(col("pfx"), col("id").as("a"), col("ws").as("wa"))
    val b = sides.select(col("pfx"), col("id").as("b"), col("ws").as("wb"))
    val inter = size(array_intersect(col("wa"), col("wb"))).cast("double")
    a.join(b, Seq("pfx"))
      .filter(col("a") < col("b"))
      .withColumn("c_a_in_b", inter / size(col("wa")).cast("double"))
      .withColumn("c_b_in_a", inter / size(col("wb")).cast("double"))
      .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= threshold)
      .select(col("a"), col("b"), col("c_a_in_b"), col("c_b_in_a"))
  }

  /** Embedding-cosine near-duplicate pairs within a blocking key (e.g. a
    * label, cluster id, or LSH bucket): per-pair work is one dot product
    * (norms precomputed per row). The blocking column bounds the quadratic —
    * at scale feed it a quantizer output ([[graft.sim.Ivf]] list id or
    * [[graft.sim.Similarity.annPairs]] buckets) rather than a free-text
    * label, so block sizes stay controlled.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, embCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    import graft.sim.Similarity
    // shared-exchange self-join (r17) — see prefixBlockedJaccard: one
    // norm pass, the b side a ReusedExchange
    val e = ColOps.parallelize(df.select(col(blockCol).as("block"),
      col(idCol).as("id"), col(embCol).as("emb"),
      Similarity.norm(col(embCol)).as("nrm")))
      .repartition(col("block"))
    val a = e.select(col("block"), col("id").as("a"), col("emb").as("ea"), col("nrm").as("na"))
    val b = e.select(col("block"), col("id").as("b"), col("emb").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("block"))
      .filter(col("a") < col("b"))
      .withColumn("cosine", graft.sim.Similarity.cosineFrom(
        graft.sim.Similarity.dot(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("block"), col("a"), col("b"), col("cosine"))
  }

  /** Canonicalization: collapse near-duplicate PAIRS into clusters and pick
    * one keeper per cluster (the minimum id). Connected components via
    * min-label propagation — each iteration is two shuffles (a join and an
    * aggregate), converging in O(log(longest chain)) iterations; no driver
    * materialization, so it scales to billions of pairs. `maxIter` bounds
    * pathological chains.
    *
    * Returns (id, keeper_id) for every id that appears in a pair.
    */
  def canonicalize(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    // undirected edges; labels start as own id. Materialized once — the
    // iteration below would otherwise recompute the (possibly expensive)
    // upstream pair pipeline on every round.
    val edges = pairs.select(col("a").as("x"), col("b").as("y"))
      .unionByName(pairs.select(col("b").as("x"), col("a").as("y")))
      .distinct()
      .localCheckpoint(eager = true)
    // Initial labels FOLD ROUND ONE in (r17): min(self, min neighbor) is
    // exactly what the first loop iteration computes when every label is
    // still its own id (the pointer hop is the identity then) — one
    // aggregate replaces that round's three joins + checkpoint + count.
    // Same fixpoint, one fewer round on every input.
    // The init labels stay an UNMATERIALIZED aggregate view (r18 probed the
    // alternative): round one references labels four times, and a
    // checkpoint mark here turns the aggregate into an opaque LogicalRDD
    // leaf Catalyst can no longer optimize through — cc_jobs measured 45→51
    // jobs, 1.31→2.40 s on the 3-round chain input. Re-deriving the tiny
    // aggregate from checkpointed edges per consumer is the cheaper side.
    var labels = edges.groupBy(col("x").as("id"))
      .agg(min(col("y")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("label"))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // min label among self, neighbors, and the label's own label (pointer
      // jumping) — the label-of-label hop halves chain depth per round, so
      // convergence is logarithmic in the longest chain, not linear
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "y"), Seq("y"))
        .groupBy(col("x").as("id"))
        .agg(min("label").as("nlabel"))
      val viaPointer = labels
        .join(labels.select(col("id").as("label"), col("label").as("plabel")), Seq("label"))
        .select(col("id"), col("plabel"))
      val next = labels
        .join(viaNeighbors, Seq("id"), "left")
        .join(viaPointer, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"),
            coalesce(col("nlabel"), col("label")),
            coalesce(col("plabel"), col("label"))).as("label"))
      // one materialization per round (truncates iterative lineage); the
      // old label rides along so convergence is a scan of the checkpointed
      // frame — no extra join-with-previous-round shuffle. (r18 probed the
      // "obvious" fusion — lazy checkpoint with the convergence count as
      // the materializing action — and it measured WORSE: the Dataset-level
      // count over the checkpoint-marked RDD schedules AQE stage jobs the
      // raw eager RDD materialization never pays. cc_jobs: 45→47 jobs,
      // 1.31→1.46 s on the 3-round chain input. Kept eager.)
      val nextM = next.localCheckpoint(eager = true)
      converged =
        nextM.filter(col("label") =!= col("old")).limit(1).count() == 0L
      labels = nextM.select(col("id"), col("label"))
      i += 1
    }
    labels.select(col("id"), col("label").as("keeper_id"))
  }

  /** 64-bit SimHash over word tokens: per-bit vote of token hashes.
    * One explode + ONE native aggregate ([[graft.functions.SimhashAgg]] —
    * a single 64-int buffer per group instead of 64 separate sum states).
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    ColOps.parallelize(df)
      .select(col(idCol).as("id"), explode(array_distinct(tokens(col(textCol)))).as("w"))
      .groupBy("id")
      .agg(graft.functions.SimhashAgg.simhash(xxhash64(col("w"))).as("simhash"))

  /** Column-only SimHash formulation (64 `sum(when(...))` vote aggregates) —
    * kept as the executable spec the native aggregate must match.
    */
  def simhash64Cols(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = ColOps.parallelize(df)
      .select(col(idCol).as("id"), explode(array_distinct(tokens(col(textCol)))).as("w"))
      .withColumn("h", xxhash64(col("w")))
    val votes = (0 until 64).map { i =>
      sum(when(shiftrightunsigned(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v$i")
    }
    val voted = ex.groupBy("id").agg(votes.head, votes.tail: _*)
    val packed = (0 until 64).map { i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    voted.select(col("id"), packed.as("simhash"))
  }

  /** SimHash near-pairs: bucket on 16-bit chunks (any equal chunk ⇒ candidate
    * — guarantees recall for Hamming distance ≤ 3 by pigeonhole), verify with
    * `bit_count(xor) <= maxHamming`.
    */
  def simhashNearPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 256): DataFrame = {
    val sig = simhash64(df, idCol, textCol)
    val chunkCols = (0 until 4).map { c =>
      struct(lit(c).as("chunk"),
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xffffL)).as("key"))
    }
    val chunkRows = sig.select(col("id"), col("simhash"), explode(array(chunkCols: _*)).as("cc"))
      .select(col("id"), col("simhash"), col("cc.chunk"), col("cc.key"))
    val buckets = chunkRows.groupBy("chunk", "key")
      .agg(collect_list(struct(col("id"), col("simhash"))).as("xs"))
      .filter(size(col("xs")).between(2, maxBucket))
    buckets
      .select(explode(col("xs")).as("x"), col("xs"))
      .select(col("x.id").as("a"), col("x.simhash").as("sa"), explode(col("xs")).as("y"))
      .filter(col("a") < col("y.id"))
      .select(col("a"), col("y.id").as("b"), col("sa"), col("y.simhash").as("sb"))
      .distinct()
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
  }

  // ---------------------------------------------------------------------
  // Portable (cross-engine-reproducible) variants. The xxhash64 paths above
  // are the production defaults — xxhash64 is codegen'd and ~10× cheaper
  // than md5 — but xxhash64 exists in no other engine, so results can only
  // be rows-counted from outside. These variants swap the hash family for
  // md5-hex (identical bytes-in/hex-out in Spark, DuckDB, Postgres, Trino):
  // every intermediate — signatures, band buckets, votes — is exactly
  // reproducible in plain SQL, which turns the whole LSH pipeline into an
  // oracle-checkable contract. Min over equal-length lowercase-hex strings
  // is the same total order as min over the underlying 128-bit integers in
  // any engine with binary string collation.
  // ---------------------------------------------------------------------

  /** The Mersenne prime 2³¹−1: modulus of the portable affine hash family.
    * Base values stay under 2³¹ and multipliers under 2²⁶, so every product
    * fits a 64-bit signed integer in any engine.
    */
  val PortableP = 2147483647L

  /** MinHash+LSH near-dup pairs over a portable hash family (see note
    * above). Same pipeline shape as [[minhashLshPairs]]: signature → band
    * buckets (size-capped — LSH skew guard) → in-bucket pair expansion
    * → distinct narrow pairs → exact-Jaccard verify join.
    *
    * Each shingle is md5'd ONCE (the only non-arithmetic hash); the
    * `numHashes` family members are affine re-hashes `(a_k·h + b_k) mod
    * (2³¹−1)` of that 60-bit base — 48 multiply-adds per shingle instead of
    * 48 md5s, and bit-identical in any engine with 64-bit integer
    * arithmetic. Signatures are computed WITHOUT a shuffle: array-min folds
    * over the (let-bound) base-hash array, executor-local. The only
    * shuffles are the bucket groupBy and the verify join, on narrow keys.
    *
    * The Jaccard is rounded to 4dp BEFORE thresholding (both here and in
    * the oracle) so the keep/drop decision is taken on a value both engines
    * agree on bit-for-bit.
    */
  def minhashLshPairsPortable(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 12, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 64): DataFrame = {
    // Persisted: the shingle frame feeds the signature AND both sides of
    // the exact-Jaccard verify join — without a persist the tokenize +
    // shingle pass over the text column runs three times (the r4 d2 bench
    // instability was GC churn × recomputation). Narrow (id, shingles)
    // rows; spills to disk if it outgrows memory. The handle lives until
    // the session cache is cleared — one-shot callers (bench/verify clear
    // the cache between queries) are fine; LOOPING callers should build
    // the shingle frame themselves, persist, call the OnShingles variant,
    // and unpersist when done (the d12 pattern).
    val sh = shingleFrame(df, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    minhashLshPairsPortableOnShingles(sh, bands, rowsPerBand, threshold, maxBucket)
  }

  /** The normalized `(id, sh)` shingle frame every portable-LSH stage
    * consumes — exposed so a caller composing multiple signature consumers
    * (pairs + estimator, d12) can persist ONE frame and share it.
    */
  def shingleFrame(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame =
    ColOps.parallelize(df)
      .select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))

  /** [[minhashLshPairsPortable]] over a prepared (ideally persisted)
    * `(id, sh)` frame from [[shingleFrame]].
    */
  def minhashLshPairsPortableOnShingles(sh: DataFrame,
      bands: Int = 12, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 64): DataFrame = {
    val numHashes = bands * rowsPerBand
    // One-buffer native fold (graft.functions.PortableMinhash): md5 runs
    // once per shingle and all 48 affine minima update in a single pass —
    // the Column form allocated one array per hash index per doc
    // (interpreted HOF lambdas), the r4 GC-pressure signature
    val sig = sh.select(col("id"),
      graft.functions.PortableMinhash.portableMinhash(col("sh"), numHashes).as("sig"))
    val bandRows = bandRowsOfSignatures(sig, bands, rowsPerBand)
    val buckets = bandRows.groupBy("bk")
      .agg(collect_list("id").as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    val pairs = buckets
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
    val jac = size(array_intersect(col("sha"), col("shb"))).cast("double") /
      size(array_union(col("sha"), col("shb"))).cast("double")
    pairs
      .join(sh.select(col("id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sh.select(col("id").as("b"), col("sh").as("shb")), Seq("b"))
      .withColumn("jaccard", round(jac, 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** `(id, bk)` LSH band-key rows of a `(id, sig)` signature frame.
    * The band index explodes BEFORE the bucket key is computed: if the
    * bucket expression lived inside a per-band lambda, CollapseProject
    * would inline the whole signature into it and recompute it once PER
    * BAND. Below a Generate the signature is a materialized attribute —
    * computed once per document, byte-copied per band row.
    */
  def bandRowsOfSignatures(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    // non-sig columns ride through the explode untouched (id, side tags, …)
    val passThrough = sig.columns.filterNot(_ == "sig").map(col).toSeq
    sig
      .select(passThrough ++ Seq(col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("b")): _*)
      .select(passThrough :+ concat(col("b").cast("string"), lit("#"),
        concat_ws("|",
          transform(slice(col("sig"), col("b") * rowsPerBand + 1, lit(rowsPerBand)),
            _.cast("string")))).as("bk"): _*)
  }

  /** Incremental near-dup SCREENING — the daily-crawl regime: the
    * historical corpus contributes a dedup index (exact fingerprints, LSH
    * band keys, shingle sets) and each incoming batch joins that index;
    * history never re-pairs with itself. At 100 TB this is the only shape
    * that keeps daily dedup affordable — a day's cost is
    * |batch| × bucket-overlap, independent of |corpus|², and the index
    * tables are exactly what [[minhashLshPairsPortable]] already computes,
    * so one build serves both the self-dedup and every later increment.
    *
    * Verdict per batch doc, in precedence order: `exact` (normalized-text
    * fingerprint already indexed; match = min such corpus id), `near`
    * (shares a band bucket with an indexed doc and verifies at
    * `jaccard ≥ threshold`; match = the best-jaccard corpus id, min-id
    * tiebreak), else `new`. Corpus-side buckets larger than `maxBucket`
    * are dropped from the index at build time — the LSH skew guard baked
    * in, so a boilerplate bucket can't fan a batch doc into thousands of
    * verify pairs.
    */
  def incrementalScreen(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, bands: Int = 12, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 64): DataFrame =
    incrementalScreenHandles(corpus, batch, idCol, textCol, shingleN, bands,
      rowsPerBand, threshold, maxBucket)._1

  /** Shared verdict assembly of [[incrementalScreenHandles]] and
    * [[screenAgainstIndexHandles]]: exact fingerprint matches, band
    * candidates verified by exact shingle Jaccard (4dp-rounded, thresholded,
    * best match per batch doc with a deterministic tiebreak), folded into
    * one (id, verdict, match_id, jaccard) row per batch id. Both screens
    * MUST rank and round identically — a semantics change here changes both
    * at once instead of silently diverging.
    */
  private def screenVerdicts(batchIds: DataFrame, batchSh: DataFrame,
      histDocs: DataFrame, cand: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exact = batchSh.select(col("id").as("bid"), col("fp"))
      .join(histDocs.select(col("id").as("cid"), col("fp")), Seq("fp"))
      .groupBy("bid").agg(min(col("cid")).as("exact_match"))
    val jac = size(array_intersect(col("sha"), col("shb"))).cast("double") /
      size(array_union(col("sha"), col("shb"))).cast("double")
    val near = cand
      .join(batchSh.select(col("id").as("bid"), col("sh").as("sha")), Seq("bid"))
      .join(histDocs.select(col("id").as("cid"), col("sh").as("shb")), Seq("cid"))
      .withColumn("jaccard", round(jac, 4))
      .filter(col("jaccard") >= threshold)
    val bestNear = near
      .withColumn("rk", row_number().over(
        Window.partitionBy("bid").orderBy(col("jaccard").desc, col("cid"))))
      .filter(col("rk") === 1)
      .select(col("bid"), col("cid").as("near_match"), col("jaccard"))
    batchIds
      .join(exact, Seq("bid"), "left")
      .join(bestNear, Seq("bid"), "left")
      .select(col("bid").as("id"),
        when(col("exact_match").isNotNull, "exact")
          .when(col("near_match").isNotNull, "near")
          .otherwise("new").as("verdict"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"),
        when(col("exact_match").isNull, col("jaccard")).as("jaccard"))
  }

  /** [[incrementalScreen]] plus the frames it internally persisted, so a
    * LOOPING caller (a foreachBatch epoch, a serve loop) can unpersist them
    * once the verdicts are materialized. The one-shot form leaves the
    * persisted shingle frame cached — fine under bench/verify harnesses
    * that clear the cache between queries, but a long-running stream
    * re-persisting a corpus-sized frame every epoch accumulates blocks for
    * the lifetime of the query ([[graft.streaming.EventStream.screeningSink]]
    * unpersists per epoch via this variant).
    */
  def incrementalScreenHandles(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, bands: Int = 12, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 64): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    val numHashes = bands * rowsPerBand
    // ONE tokenize + shingle + fingerprint + signature pipeline over the
    // tagged union — every consumer (band keys, exact fps, both verify-join
    // sides) reads the persisted frame, so the expensive text pass runs and
    // codegens once, not once per side.
    val tagged = corpus
      .select(col(idCol).as("id"), col(textCol).as("__t"), lit(false).as("__b"))
      .unionByName(batch
        .select(col(idCol).as("id"), col(textCol).as("__t"), lit(true).as("__b")))
    val sh = ColOps.parallelize(tagged)
      .select(col("id"), col("__b"),
        shingles(col("__t"), shingleN).as("sh"),
        TextAnalysis.fingerprint(col("__t")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandsAll = bandRowsOfSignatures(
      sh.select(col("id"), col("__b"),
        graft.functions.PortableMinhash.portableMinhash(col("sh"), numHashes).as("sig")),
      bands, rowsPerBand)
    // index half: band buckets capped at build (the LSH skew guard)
    val cBands = bandsAll.filter(!col("__b"))
    val okBuckets = cBands.groupBy("bk").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBucket).select("bk")
    val cBandsCapped = cBands.join(okBuckets, Seq("bk"), "left_semi")
    val cand = bandsAll.filter(col("__b")).select(col("bk"), col("id").as("bid"))
      .join(cBandsCapped.select(col("bk"), col("id").as("cid")), Seq("bk"))
      .select("bid", "cid").distinct()
    // verify sides are SIDE-FILTERED: an id present in both corpus and
    // batch (a revised re-crawl of an indexed doc) must verify against its
    // own side's shingles, not whichever row the join finds first
    val out = screenVerdicts(batch.select(col(idCol).as("bid")),
      sh.filter(col("__b")), sh.filter(!col("__b")), cand, threshold)
    (out, Seq(sh))
  }

  /** The LSH parameters a [[DedupIndex]] was built with. Persisted with the
    * index and validated at screen time: a screen run with mismatched
    * parameters would not error — band keys simply never match and every
    * verdict silently degrades to exact/new.
    */
  final case class IndexParams(shingleN: Int, bands: Int, rowsPerBand: Int,
    maxBucket: Int)

  /** A persisted dedup index: `docs` carries `(id, fp, sh)` — exact
    * fingerprint + shingle set per historical document — and `bands` the
    * size-capped `(id, bk)` LSH band rows. Build once per corpus snapshot,
    * screen every increment against it ([[screenAgainstIndex]]): the
    * amortized form of [[incrementalScreen]], which rebuilds this state
    * inline per call. `params` records the build-time LSH parameters
    * (None only for a hand-assembled index).
    */
  final case class DedupIndex(docs: DataFrame, bands: DataFrame,
    params: Option[IndexParams] = None)

  /** Build the [[DedupIndex]] of a corpus: one tokenize+shingle+fingerprint
    * +signature pass; band buckets larger than `maxBucket` are dropped HERE
    * (the LSH skew guard baked into the artifact, so no later screen can
    * fan out on a boilerplate bucket).
    */
  def buildIndex(corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 12, rowsPerBand: Int = 4,
      maxBucket: Int = 64): DedupIndex = {
    val sh = ColOps.parallelize(corpus)
      .select(col(idCol).as("id"),
        shingles(col(textCol), shingleN).as("sh"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandRows = bandRowsOfSignatures(
      sh.select(col("id"),
        graft.functions.PortableMinhash.portableMinhash(col("sh"), bands * rowsPerBand)
          .as("sig")),
      bands, rowsPerBand)
    val ok = bandRows.groupBy("bk").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBucket).select("bk")
    DedupIndex(sh, bandRows.join(ok, Seq("bk"), "left_semi"),
      Some(IndexParams(shingleN, bands, rowsPerBand, maxBucket)))
  }

  /** Persist an index as two parquet tables plus a one-row `params` table
    * (build-time LSH parameters, validated on screen); `load` with
    * [[loadIndex]]. At corpus scale `bands` would additionally bucket by
    * `bk` so a screen prunes to the buckets its batch touches.
    */
  def saveIndex(idx: DedupIndex, path: String): Unit = {
    writeSized(idx.docs, s"$path/docs")
    writeSized(idx.bands, s"$path/bands")
    val spark = idx.docs.sparkSession
    import spark.implicits._
    idx.params.foreach(p =>
      Seq(p).toDF().write.mode("overwrite").parquet(s"$path/params"))
  }

  /** Artifact write with SIZE-derived file count: parquet written straight
    * off a shuffle inherits the shuffle's task count, so a megabyte-scale
    * index lands as 32 tiny files and every later screen pays 32 footer
    * reads + 32 scheduled tasks per table per query (the measured d15s
    * serve-path tax). The REBALANCE hint makes AQE size the write's output
    * partitions to its advisory byte target in the SAME pass — a tiny
    * index becomes one file, a corpus-scale one keeps its parallel layout
    * — replacing the r11-interim stage-measure-compact double write (whose
    * 4 extra jobs per save were the measured st4 build-side tax). Callers
    * are all batch contexts; without AQE the hint degrades to a plain
    * shuffle write — correct, just unconsolidated.
    */
  private def writeSized(df: DataFrame, path: String): Unit =
    df.hint("rebalance").write.mode("overwrite").parquet(path)

  def loadIndex(spark: org.apache.spark.sql.SparkSession, path: String): DedupIndex = {
    // params written by every current saveIndex; tolerate only its ABSENCE
    // (a pre-params index still loads, it just screens unvalidated). A
    // params table that exists but fails to read is corruption — let it
    // throw rather than silently screening with an unvalidated family.
    val pPath = new org.apache.hadoop.fs.Path(s"$path/params")
    val fs = pPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val params =
      if (!fs.exists(pPath)) None
      else {
        import spark.implicits._
        spark.read.parquet(s"$path/params").as[IndexParams].collect().headOption
      }
    DedupIndex(spark.read.parquet(s"$path/docs"),
      spark.read.parquet(s"$path/bands"), params)
  }

  /** Screen a batch against a prebuilt (typically [[loadIndex]]-ed) index —
    * the serve path of incremental dedup: history contributes only its
    * artifact tables; no history text is read, tokenized or signed. Same
    * verdict semantics as [[incrementalScreen]].
    */
  def screenAgainstIndex(index: DedupIndex, batch: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, bands: Int = 12, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame =
    screenAgainstIndexHandles(index, batch, idCol, textCol, shingleN, bands,
      rowsPerBand, threshold)._1

  /** [[screenAgainstIndex]] plus its internally persisted batch-shingle
    * frame — the loop-caller form (see [[incrementalScreenHandles]]).
    */
  def screenAgainstIndexHandles(index: DedupIndex, batch: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, bands: Int = 12, rowsPerBand: Int = 4,
      threshold: Double = 0.5): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    // a screen with parameters differing from the build produces silently
    // wrong verdicts (band keys never collide → everything looks exact/new),
    // so when the index carries its build params, enforce the match
    index.params.foreach { p =>
      require(p.shingleN == shingleN && p.bands == bands &&
        p.rowsPerBand == rowsPerBand,
        s"screen params (shingleN=$shingleN, bands=$bands, rowsPerBand=$rowsPerBand) " +
          s"do not match the index build params $p")
    }
    val bSh = ColOps.parallelize(batch)
      .select(col(idCol).as("id"),
        shingles(col(textCol), shingleN).as("sh"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bBands = bandRowsOfSignatures(
      bSh.select(col("id"),
        graft.functions.PortableMinhash.portableMinhash(col("sh"), bands * rowsPerBand)
          .as("sig")),
      bands, rowsPerBand)
    val cand = bBands.select(col("bk"), col("id").as("bid"))
      .join(index.bands.select(col("bk"), col("id").as("cid")), Seq("bk"))
      .select("bid", "cid").distinct()
    val out = screenVerdicts(batch.select(col(idCol).as("bid")),
      bSh, index.docs, cand, threshold)
    (out, Seq(bSh))
  }

  /** Portable MinHash signatures as a frame — `(id, sig)` with `sig` the
    * `numHashes`-wide md5/affine signature of the document's shingle set
    * (the [[minhashLshPairsPortable]] family, exposed for
    * signature-quality evaluation queries).
    */
  def portableSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 48): DataFrame =
    portableSignaturesOnShingles(shingleFrame(df, idCol, textCol, shingleN), numHashes)

  /** [[portableSignatures]] over a prepared `(id, sh)` [[shingleFrame]]. */
  def portableSignaturesOnShingles(sh: DataFrame, numHashes: Int = 48): DataFrame =
    sh.select(col("id"),
      graft.functions.PortableMinhash.portableMinhash(col("sh"), numHashes).as("sig"))

  /** Train/test contamination check: for each document, the fraction of its
    * `n`-gram shingles that appear anywhere in the benchmark set — the
    * standard decontamination signal for training corpora (docs overlapping
    * an eval benchmark get flagged/dropped).
    *
    * Scale shape: the benchmark is small by construction (eval sets are
    * thousands of docs, the corpus is billions), so its distinct shingle
    * set BROADCASTS and scoring is ONE pass over the exploded corpus — a
    * broadcast left join marking benchmark hits, then a single groupBy(id)
    * computing total and hit counts together. No corpus-on-corpus join, no
    * second scan: one shuffle total, of narrow (id, counts) rows. Returns
    * every corpus doc with `(n_shingles, n_contaminated, rate)`; rate is
    * rounded to 4dp (engine-portable comparison).
    *
    * The join key is a 60-bit md5 FINGERPRINT of the shingle, not the
    * shingle string: an 8-gram averages ~50 bytes, so a string-keyed
    * broadcast of a million-shingle benchmark is tens-of-MB of UTF-8 plus
    * hash-table overhead — at stress ×16 the build alone took ~55 s. Longs
    * shrink the build ~8× and make every probe an integer compare. The
    * fingerprint is the portable `conv(substring(md5(g),1,15),16,10)`
    * idiom, so the oracle replays the SAME fingerprint domain and any
    * (astronomically rare) cross-string collision affects both engines
    * identically rather than diverging the gate.
    */
  def contaminationRate(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, shingleN: Int = 8): DataFrame = {
    def fp(g: Column): Column = conv(substring(md5(g), 1, 15), 16, 10).cast("long")
    val s = ColOps.parallelize(docs)
      .select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
    // explode first, fingerprint in the next projection: a generator
    // cannot nest inside another expression
    val benchShingles = benchmark
      .select(explode(shingles(col(benchTextCol), shingleN)).as("g0"))
      .select(fp(col("g0")).as("g"))
      .distinct()
      .withColumn("hit", lit(1))
    s.select(col("id"), explode(col("sh")).as("g0"))
      .select(col("id"), fp(col("g0")).as("g"))
      .join(broadcast(benchShingles), Seq("g"), "left")
      .groupBy("id")
      // shingles are distinct within a doc, so row count == shingle count
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_contaminated"))
      .withColumn("rate",
        round(col("n_contaminated").cast("double") / col("n_shingles"), 4))
  }

  /** 64-bit SimHash as an unpacked bit ARRAY (values 0/1), derived from the
    * first 16 hex chars of each token's md5 (see portability note above).
    * Bit `j` reads nibble `j/4` of the hex string (via `ascii`, engine-
    * neutral) and extracts bit `j%4` with floor-divide arithmetic — no
    * engine-specific bit intrinsics, so the same expression runs in SQL.
    * The token-hash array is let-bound: md5 runs once per token, not once
    * per (bit, token).
    */
  def simhashBitsPortable(text: Column): Column =
    graft.functions.PortableSimhash.portableSimhash(array_distinct(tokens(text)))

  /** SimHash near-pairs over the portable bit-array signature: 16-bit chunk
    * pigeonhole blocking (identical geometry to [[simhashNearPairs]]).
    * Chunk keys are the 16 bits printed as a string — engine-neutral.
    *
    * The bit ARRAY stops at the chunk projection (r18, guide §2.2/§4): the
    * four 16-bit chunk words pack into ONE long (`conv(bits, 2, 10)` per
    * chunk, OR-shifted), so the bucket shuffle, the collect_list buckets
    * and the pair `distinct()` carry an 8-byte word instead of a
    * 64-element int array (~40× narrower rows, array-free grouping keys),
    * and the Hamming verify is codegen `bit_count(xor)` instead of an
    * interpreted zip-and-count fold per candidate pair. Hamming over
    * aligned 0/1 arrays equals popcount of the XOR under ANY fixed
    * bijective packing, so the output is value-identical (DedupSpec pins
    * it against the array formulation; the oracle replays its own SQL).
    */
  def simhashNearPairsPortable(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 256): DataFrame = {
    val sig = ColOps.parallelize(df)
      .select(col(idCol).as("id"), simhashBitsPortable(col(textCol)).as("bits"))
    // chunk index exploded BEFORE the key/packing expressions — same
    // CollapseProject guard as in minhashLshPairsPortable: the 64-bit-vote
    // signature must be computed once per document, not once per chunk
    def word(c: Int): Column =
      conv(concat_ws("", transform(slice(col("bits"), lit(c * 16 + 1), lit(16)),
        _.cast("string"))), 2, 10).cast("long")
    val packed = (0 until 4).map(c => shiftleft(word(c), c * 16))
      .reduce((a, b) => a.bitwiseOR(b))
    val chunkRows = sig
      .select(col("id"), col("bits"),
        explode(sequence(lit(0), lit(3))).as("c"))
      .select(col("id"), packed.as("pb"),
        concat(col("c").cast("string"), lit("#"),
          concat_ws("", transform(slice(col("bits"), col("c") * 16 + 1, lit(16)),
            _.cast("string")))).as("bk"))
    val buckets = chunkRows.groupBy("bk")
      .agg(collect_list(struct(col("id"), col("pb"))).as("xs"))
      .filter(size(col("xs")).between(2, maxBucket))
    buckets
      .select(explode(col("xs")).as("x"), col("xs"))
      .select(col("x.id").as("a"), col("x.pb").as("pa"), explode(col("xs")).as("y"))
      .filter(col("a") < col("y.id"))
      .select(col("a"), col("pa"), col("y.id").as("b"), col("y.pb").as("pbb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("pa").bitwiseXOR(col("pbb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Cross-document duplicated-SPAN detection — the substring-level dedup
    * pass (à la "Deduplicating Training Data Makes Language Models Better"):
    * doc-level MinHash misses a boilerplate paragraph pasted into thousands
    * of otherwise-distinct pages; this finds it by fingerprinting disjoint
    * `window`-token chunks and counting, per document, how many of its
    * chunks also occur in ANOTHER document.
    *
    * Plan: executor-local chunk explode (t7 machinery, stride = window), an
    * md5 fingerprint per chunk, one hash aggregate (fingerprint →
    * distinct-doc count), a linear join back, one per-doc aggregate.
    * Nothing quadratic, nothing driver-side; at 100 TB this is the TF-IDF
    * plan shape over ~n_tokens/window rows.
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
      window: Int = 16): DataFrame = {
    // The narrow (id, fp) frame feeds BOTH the fingerprint aggregate and the
    // join-back; without a persist Spark recomputes the full tokenize +
    // chunk-explode + md5 pass for each consumer — at corpus scale that is a
    // 2× read of the text column. The persisted projection is ~40 bytes/chunk
    // (spills to disk if it outgrows memory), a fraction of the corpus.
    val chunks = ColOps.parallelize(df)
      .select(col(idCol).as("id"),
        explode(graft.text.TextAnalysis.chunkWindows(col(textCol), window, window))
          .as("chunk"))
      .select(col("id"), md5(col("chunk")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val byFp = chunks.groupBy("fp").agg(countDistinct(col("id")).as("nd"))
    chunks.join(byFp, Seq("fp"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_span_frac",
        round(col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"), 6))
  }

  /** Per-document n-gram NOVELTY — the incremental-curation counterpart of
    * [[dupSpans]]: what fraction of a document's `window`-token chunks appear
    * here for the FIRST time in corpus order (min doc id owns the first
    * occurrence)? A crawl-refresh pipeline uses this to score how much new
    * content each incoming document contributes before paying to keep it;
    * boilerplate-heavy pages score near 0, genuinely new text near 1.
    *
    * Plan shape is dupSpans': one persisted narrow (id, fp) chunk frame
    * feeding both the first-occurrence aggregate (fp → min id) and the
    * join-back, so the tokenize + explode pass runs once. Everything shuffles
    * on the fingerprint — the same single-exchange discipline that holds at
    * corpus scale.
    */
  def novelSpans(df: DataFrame, idCol: String, textCol: String,
      window: Int = 16): DataFrame = {
    val chunks = ColOps.parallelize(df)
      .select(col(idCol).as("id"),
        explode(graft.text.TextAnalysis.chunkWindows(col(textCol), window, window))
          .as("chunk"))
      .select(col("id"), md5(col("chunk")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firstSeen = chunks.groupBy("fp").agg(min(col("id")).as("first_id"))
    chunks.join(firstSeen, Seq("fp"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("first_id") === col("id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_frac",
        round(col("n_novel").cast("double") / col("n_chunks").cast("double"), 6))
  }

  /** Duplicated-span SCRUB — the materializing counterpart of [[dupSpans]]
    * (à la ExactSubstr dedup in "Deduplicating Training Data Makes Language
    * Models Better"): rewrite every document keeping only the FIRST global
    * occurrence of each `window`-token chunk. The first occurrence is the
    * minimum `(doc id, chunk index)` over all occurrences of the chunk's
    * fingerprint, so a boilerplate paragraph pasted into thousands of pages
    * survives exactly once (in the lowest-id document) and is cut everywhere
    * else; repeats WITHIN one document collapse to their first position too.
    *
    * Plan: one chunk explode with position (persisted narrow — id, idx, fp,
    * chunk — so tokenize runs once for its two consumers), one hash
    * aggregate (fp → min (id, idx) occurrence), a linear join-back keeping
    * matching occurrences, and one per-doc aggregate that reassembles the
    * kept chunks in index order. Nothing quadratic, nothing driver-side; the
    * join-back key (fp) is the same as the aggregate key, so AQE can plan
    * both over one exchange. Docs whose every chunk was seen earlier
    * elsewhere come back with empty text, not dropped.
    */
  def scrubDupSpans(df: DataFrame, idCol: String, textCol: String,
      window: Int = 16): DataFrame = {
    val chunks = ColOps.parallelize(df)
      .select(col(idCol).as("id"),
        posexplode(graft.text.TextAnalysis.chunkWindows(col(textCol), window, window))
          .as(Seq("idx", "chunk")))
      .withColumn("fp", md5(col("chunk")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firstSeen = chunks.groupBy("fp")
      .agg(min(struct(col("id"), col("idx"))).as("first"))
    val rebuilt = chunks.join(firstSeen, Seq("fp"))
      .filter(col("id") === col("first.id") && col("idx") === col("first.idx"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
            _.getField("chunk"))).as("scrubbed"))
    val totals = chunks.groupBy("id").agg(count(lit(1)).as("n_chunks"))
    df.select(col(idCol).as("id"))
      .join(totals, Seq("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept_chunks"),
        coalesce(col("scrubbed"), lit("")).as("scrubbed_text"))
  }
}
