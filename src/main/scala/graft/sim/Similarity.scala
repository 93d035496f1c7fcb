package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Vector math uses only built-in higher-order functions (`zip_with` /
  * `aggregate`) — fully codegen'd, no UDFs, and the sequential left-to-right
  * fold makes the arithmetic bit-reproducible across engines (the DuckDB
  * oracle mirrors it with `list_*`).
  *
  * Scale path: brute-force top-k is one scan + TakeOrderedAndProject (fine
  * for one probe over any corpus); the many-probe form broadcasts probes and
  * aggregates map-side; the ANN form buckets by deterministic random-
  * hyperplane signatures so candidate sets stay bounded.
  */
object Similarity {

  /** Dot product of two array columns, computed in double — a native
    * codegen'd Catalyst expression ([[graft.functions.VectorExpressions]]);
    * accumulation order (left-to-right) matches the HOF form
    * `aggregate(zip_with(a,b,_*_), 0d, _+_)` bit-for-bit.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot(a, b)

  /** The interpreted higher-order-function formulation — kept as the
    * reference semantics the native expression must match exactly.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine from a precomputed dot and norms. Zero-norm vectors pin to
    * similarity 0 — the raw 0/0 would be NaN, which Spark SQL orders ABOVE
    * every double and passes through every `>=` threshold, so one all-zero
    * embedding would otherwise rank #1 in every top-k window and join every
    * radius result silently.
    */
  def cosineFrom(dotAB: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dotAB / (na * nb))

  def cosine(a: Column, b: Column): Column =
    cosineFrom(dot(a, b), norm(a), norm(b))

  /** Brute-force cosine top-k against one probe vector: scan + bounded heap
    * (Catalyst plans orderBy+limit as TakeOrderedAndProject — no full sort,
    * no shuffle of the corpus).
    */
  def topK(corpus: DataFrame, idCol: String, embCol: String,
      probe: Seq[Double], k: Int): DataFrame = {
    val p = typedlit(probe)
    corpus
      .select(col(idCol).as("id"), cosine(col(embCol), p).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** k-NN join: top-k corpus neighbors for every probe row. Probes are
    * broadcast (the small side); ranking is a per-probe window over the
    * joined frame. Suitable when |probes| ≪ |corpus|.
    */
  def knnJoin(probes: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int): DataFrame = {
    // Norms are computed once per row on each side; per-pair work is then a
    // single dot product (vs 3 array folds if cosine() ran per pair).
    val p = probes.select(col(idCol).as("probe_id"), col(embCol).as("p_emb"),
      norm(col(embCol)).as("p_nrm"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("c_emb"),
      norm(col(embCol)).as("c_nrm"))
    val joined = c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosineFrom(dot(col("c_emb"), col("p_emb")), col("c_nrm"), col("p_nrm")))
    val w = Window.partitionBy("probe_id").orderBy(col("cosine").desc, col("neighbor_id"))
    joined
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Margin-based pair mining (the bitext-mining score of Artetxe & Schwenk,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings"): an absolute cosine threshold over-accepts pairs in dense
    * regions and under-accepts in sparse ones, so each candidate pair is
    * scored RELATIVE to its endpoints' neighborhoods —
    * `margin = cos(x,y) / ((avgK(x) + avgK(y)) / 2)` where `avgK(v)` is the
    * mean cosine of v's k nearest neighbors. Margin > 1 means x and y are
    * closer to each other than to their own neighborhoods — the signature of
    * a true translation/duplicate pair rather than a hub.
    *
    * Plan: one [[knnJoin]] for the probes (broadcast probes, one corpus
    * scan), the rank-1 neighbor per probe becomes the candidate pair; the
    * distinct rank-1 endpoints (≤ |probes| rows) feed a second knnJoin for
    * the other side's density. Densities sum k 9dp-rounded cosines in
    * DECIMAL so the mean is reproducible regardless of partial-agg order.
    * |probes| stays small by construction; the corpus is scanned twice and
    * never shuffled.
    */
  def marginMining(probes: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    // divided by the ACTUAL neighbor count, not the constant k: a corpus
    // smaller than k+1 rows yields fewer than k neighbors per probe, and a
    // /k there deflates the density and inflates every margin
    def density(nn: DataFrame, idAlias: String, densAlias: String): DataFrame =
      nn.groupBy(col("probe_id").as(idAlias))
        .agg((sum(round(col("cosine"), 9).cast("decimal(30,9)")).cast("double") /
          count(lit(1))).as(densAlias))
    // localCheckpoint, not persist: the probe×k frame feeds two consumers,
    // but a persist here has no caller-reachable handle to unpersist — a
    // long-lived session calling marginMining per batch would accumulate
    // one cached frame per call forever. Checkpoint blocks are released by
    // the ContextCleaner once the frame is unreferenced.
    val pNN = knnJoin(probes, corpus, idCol, embCol, k).localCheckpoint()
    val top1 = pNN.filter(col("rank") === 1)
      .select(col("probe_id"), col("neighbor_id"), col("cosine"))
    val pDens = density(pNN, "probe_id", "p_dens")
    val nProbes = corpus.join(
      broadcast(top1.select(col("neighbor_id").as(idCol)).distinct()), Seq(idCol))
    val nDens = density(knnJoin(nProbes, corpus, idCol, embCol, k),
      "neighbor_id", "n_dens")
    val out = top1
      .join(pDens, Seq("probe_id"))
      .join(nDens, Seq("neighbor_id"))
      .withColumn("margin",
        round(col("cosine") / ((col("p_dens") + col("n_dens")) / 2d), 6))
      .select(col("probe_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("margin"))
    out
  }

  /** Deterministic Rademacher (±1) hyperplanes: sign of a seeded integer hash
    * of (plane, dim) — reproducible with no RNG state, which keeps plans
    * replayable (and resume-safe) at any scale.
    */
  def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (p, j) =>
      var h = (p.toLong << 32 | j.toLong) * 0x9e3779b97f4a7c15L
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      if (((h >>> 16) & 1L) == 0L) 1.0 else -1.0
    }

  /** Per-band key width so the expected bucket population stays near
    * `targetBucket`: 2^bandBits ≈ n / targetBucket. Clamped to [4, 24] —
    * at least 16 buckets even for tiny corpora, at most 2^24 per band
    * (beyond that the expected bucket grows linearly with n again; raise
    * nBands or shard the corpus first).
    */
  def bandBitsFor(n: Long, targetBucket: Int): Int = {
    val want = math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
      math.log(2.0)).toInt
    math.min(24, math.max(4, want))
  }

  /** ANN near-neighbor pairs: bucket by hyperplane-signature bands, expand
    * size-capped buckets, verify exact cosine ≥ threshold.
    *
    * Buckets carry ids only — candidate pairs are deduped as narrow
    * `(a, b)` longs, then embeddings are joined back for the exact check
    * (hashing/shuffling float arrays through `distinct` is the scale trap).
    *
    * Bucket geometry scales with the corpus: per-band key width is
    * `bandBits ≈ log2(n / targetBucket)` so the expected bucket size stays
    * near `targetBucket` regardless of n — a fixed bucket count would
    * either explode candidate pairs (quadratic in bucket size) or, with the
    * `maxBucket` cap, silently discard most buckets at scale. `dim` and `n`
    * are derived from the data unless passed (two tiny metadata jobs; pass
    * them when the caller already knows, e.g. from a catalog).
    */
  def annPairs(corpus: DataFrame, idCol: String, embCol: String,
      nBands: Int = 4, threshold: Double = 0.9,
      targetBucket: Int = 32, maxBucket: Int = 512,
      bandBitsOverride: Int = -1, dim: Int = -1, nRows: Long = -1L): DataFrame = {
    val e = graft.functions.ColOps.parallelize(
      corpus.select(col(idCol).as("id"), col(embCol).as("emb"),
        norm(col(embCol)).as("nrm")))
    val d =
      if (dim > 0) dim
      else {
        val first = corpus.select(size(col(embCol))).limit(1).collect()
        if (first.isEmpty) return emptyPairs(e) // empty corpus, not a crash
        first(0).getInt(0)
      }
    val n = if (nRows >= 0) nRows else corpus.count()
    val bandBits =
      if (bandBitsOverride > 0) bandBitsOverride
      else bandBitsFor(n, targetBucket)
    val planes = hyperplanes(nBands * bandBits, d)
    annPairsWith(e, planes, nBands, bandBits, threshold, maxBucket,
      roundVerify = false)
  }

  /** Zero-row pair frame whose a/b columns carry the REAL id type — a
    * hardcoded long literal would make the empty-corpus schema diverge
    * from the non-empty one (string ids, unions, schema-merged writes).
    */
  private def emptyPairs(e: DataFrame): DataFrame =
    e.select(col("id").as("a"), col("id").as("b"), lit(0d).as("cosine")).limit(0)

  private def annPairsWith(e: DataFrame, planes: Array[Array[Double]],
      nBands: Int, bandBits: Int, threshold: Double, maxBucket: Int,
      roundVerify: Boolean): DataFrame = {
    // Per-band keys are built directly from each band's own planes (not by
    // packing one ≤64-bit signature and shifting), so nBands × bandBits has
    // no 64-plane ceiling.
    val bandCols = (0 until nBands).map { b =>
      val key = (0 until bandBits).map { i =>
        when(dot(col("emb"), typedlit(planes(b * bandBits + i).toSeq)) > 0.0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce((a, c) => a.bitwiseOR(c))
      struct(lit(b).as("band"), key.as("key"))
    }
    val bandRows = e.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.key"))
    val buckets = bandRows.groupBy("band", "key")
      .agg(collect_list("id").as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    val pairs = buckets
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
    val raw = pairs
      .join(e.select(col("id").as("a"), col("emb").as("ea"), col("nrm").as("na")), Seq("a"))
      .join(e.select(col("id").as("b"), col("emb").as("eb"), col("nrm").as("nb")), Seq("b"))
      .withColumn("cosine", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
    val verified =
      if (roundVerify)
        raw.withColumn("cosine", round(col("cosine"), 6))
          .filter(col("cosine") >= threshold)
      else raw.filter(col("cosine") >= threshold)
    verified.select(col("a"), col("b"), col("cosine"))
  }

  /** Portable (cross-engine-reproducible) variants of the ANN geometry —
    * same pipeline, with every derived quantity computable in plain SQL so
    * the whole operator is oracle-checkable (see the d2/d3 portable-hash
    * notes in [[graft.dedup.Dedup]]):
    *
    *  - planes are Rademacher ±1 from md5 PARITY (first hex nibble odd →
    *    +1) instead of splitmix64, whose wrapping 64-bit multiplies most
    *    engines reject as overflow;
    *  - the band width is computed with INTEGER arithmetic (bit length of
    *    ⌈n/targetBucket⌉−1) instead of float log2, whose ULP behavior near
    *    powers of two could flip a ceil across engines.
    */
  def portablePlanes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (p, j) =>
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p:$j".getBytes("UTF-8"))
      if ((((dig(0) >> 4) & 0xf) % 2) == 1) 1.0 else -1.0
    }

  /** Integer-exact band width: smallest `b` with `2^b ≥ ⌈n/targetBucket⌉`,
    * clamped to [4, 24] (same clamp rationale as [[bandBitsFor]]).
    */
  def bandBitsPortable(n: Long, targetBucket: Int): Int = {
    val m = (n + targetBucket - 1) / targetBucket
    val want = if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(24, math.max(4, want))
  }

  /** ANN near-pairs over the portable geometry; the exact-cosine verify is
    * rounded to 6dp BEFORE thresholding (both here and in the oracle).
    */
  def annPairsPortable(corpus: DataFrame, idCol: String, embCol: String,
      nBands: Int = 4, threshold: Double = 0.9,
      targetBucket: Int = 32, maxBucket: Int = 512): DataFrame = {
    val e = graft.functions.ColOps.parallelize(
      corpus.select(col(idCol).as("id"), col(embCol).as("emb"),
        norm(col(embCol)).as("nrm")))
    val firstDim = corpus.select(size(col(embCol))).limit(1).collect()
    if (firstDim.isEmpty) return emptyPairs(e) // empty corpus, not a crash
    val d = firstDim(0).getInt(0)
    val n = corpus.count()
    val bandBits = bandBitsPortable(n, targetBucket)
    annPairsWith(e, portablePlanes(nBands * bandBits, d), nBands, bandBits,
      threshold, maxBucket, roundVerify = true)
  }
}
