package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language ID, fingerprinting. All pure Column expressions
  * (whole-stage codegen; no UDFs), deliberately chosen so each has an exact
  * ANSI-SQL mirror for the DuckDB oracle.
  *
  * Scale: every operator is a narrow map over the documents table — no
  * shuffle, no driver materialization; at 100 TB this is scan-bound.
  */
object TextAnalysis {

  /** Whitespace token count: split on single spaces (exact, locale-free
    * semantics shared by Spark `split` and DuckDB `string_split`).
    */
  def tokenCount(text: Column): Column = size(split(text, " ", -1))

  /** Occurrences of a literal single character, via length differencing —
    * exact and engine-portable (no regex dialect differences).
    */
  def charCount(text: Column, ch: String): Column = {
    require(ch.length == 1)
    length(text) - length(translate(text, ch, ""))
  }

  /** BPE-ish regex token count: runs of letters, runs of digits, or single
    * other non-space characters — the classic pre-tokenizer shape.
    */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"))

  /** Stopword hit count: how many of the given stopwords occur (padded)
    * in the text. Fixed evaluation order → deterministic.
    */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    stopwords.map(w => when(padded.contains(s" $w "), 1).otherwise(0))
      .reduce(_ + _)
  }

  /** Composite quality score ∈ roughly [0,1]: rewards mid-length documents,
    * reasonable mean word length, and stopword presence; penalizes
    * punctuation walls. Weights are fixed; arithmetic is a fixed-order chain
    * of IEEE ops so it reproduces bit-identically in any engine.
    */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nTokens = tokenCount(text).cast("double")
    val meanWordLen = (nChars - (nTokens - lit(1.0))) / nTokens
    val lengthScore = least(nChars / lit(200.0), lit(1.0))
    val wordLenScore =
      when(meanWordLen.between(3.0, 10.0), lit(1.0)).otherwise(lit(0.3))
    val stopScore = least(
      stopwordHits(text, Seq("the", "a", "and", "of", "to")).cast("double") / lit(3.0),
      lit(1.0))
    val punctRatio = (charCount(text, ".") + charCount(text, ",")).cast("double") /
      greatest(nChars, lit(1.0))
    val punctScore = when(punctRatio > 0.1, lit(0.2)).otherwise(lit(1.0))
    lit(0.3) * lengthScore + lit(0.2) * wordLenScore +
      lit(0.3) * stopScore + lit(0.2) * punctScore
  }

  /** Language-ID marker words per language — tiny n-gram-style heuristic.
    * Order matters for the argmax tie-break (en > de > es > fr > zh).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "to"),
    "de" -> Seq("der", "die", "und", "ist", "nicht"),
    "es" -> Seq("el", "que", "los", "una", "por"),
    "fr" -> Seq("le", "les", "est", "une", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我")
  )

  /** Predicted language: highest marker-hit count, ties broken by the fixed
    * language order, "und" (undetermined) when nothing matches.
    */
  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (lang, ws) => lang -> stopwordHits(text, ws) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** THE shared text-normalization domain — non-alphanumeric runs collapse
    * to one space, trimmed, lowercased. Every content key in the engine
    * (fingerprints, dedup tokens, rolling hashes, fuzzy blocking) derives
    * from this single definition so the oracle-pinned equivalences cannot
    * silently diverge when the domain changes.
    */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(text, lit("[^A-Za-z0-9]+"), lit(" "))))

  /** Document fingerprint: md5 of [[normalize]]d text — near-identical
    * whitespace/punctuation variants collapse to one fingerprint.
    */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** TF-IDF over the normalized word tokens: one explode, two hash
    * aggregates (term frequency per doc, document frequency per term), a
    * broadcast of the scalar corpus size — no quadratic stage. Natural-log
    * idf = ln(N / df).
    */
  def tfidf(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import graft.dedup.Dedup
    val toks = graft.functions.ColOps.parallelize(df)
      .select(col(idCol).as("id"), explode(Dedup.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    // document frequency from the ALREADY-AGGREGATED tf (one row per
    // (id, term)), not from a second tokenize-and-distinct over the corpus
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.select(countDistinct(col(idCol)).as("n"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * log(col("n").cast("double") / col("df")))
      .select(col("id"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Corpus-LM quality score: the average unigram log-probability of a
    * document under the corpus's own unigram distribution — the shape of
    * KenLM-style perplexity filtering (gibberish and boilerplate-heavy
    * documents score low; self-trained here, so no OOV path).
    *
    * Two hash aggregates (term frequencies, then per-doc fold) plus a
    * broadcast of the scalar corpus size — the TF-IDF plan shape, no
    * quadratic stage. Determinism discipline: each token's log-prob is
    * rounded to 9dp (absorbs any last-ULP `ln` divergence between engines)
    * and summed as an exact DECIMAL (order-independent — double sums
    * change with partial-aggregation order), then the average is rounded
    * to 6dp.
    */
  def lmQuality(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = graft.functions.ColOps.parallelize(df)
      .select(col(idCol).as("id"), explode(graft.dedup.Dedup.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val freq = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    // corpus total from the tiny term-frequency aggregate — deriving it
    // from toks again would tokenize the whole corpus a third time
    val n = freq.agg(sum("cnt").as("n"))
    toks.join(freq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("lp", round(log(col("cnt").cast("double") / col("n").cast("double")), 9))
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(sum(col("lp").cast("decimal(30,12)")).cast("double") / count(lit(1)), 6)
          .as("avg_logprob"))
  }

  /** Overlapping token-window chunks for LLM context building: windows of
    * `window` whitespace tokens advancing by `stride` (stride < window ⇒
    * overlap). Every token lands in ≥1 chunk; a document shorter than one
    * window yields exactly one chunk. Returns the ARRAY of chunk strings —
    * callers `posexplode` it to (chunk_id, chunk) rows, so the expansion is
    * executor-local (no shuffle; at 100 TB chunking is scan-bound).
    *
    * The token array is let-bound — the split runs once per document, not
    * once per window (see [[graft.functions.ColOps.bindLet]]).
    */
  def chunkWindows(text: Column, window: Int, stride: Int): Column = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    graft.functions.ColOps.bindLet(split(text, " ", -1), ws => {
      val nChunks = greatest(
        ceil((size(ws) - lit(window)).cast("double") / lit(stride.toDouble))
          .cast("long") + 1L,
        lit(1L))
      transform(sequence(lit(0L), nChunks - 1L),
        c => concat_ws(" ", slice(ws, (c * stride).cast("int") + 1, lit(window))))
    })
  }

  /** Token-budget sequence packing: assign documents to fixed-budget packs
    * (training batches) in id order WITHIN each `shardCol` partition, by
    * START OFFSET — `pack_id = ⌊(cum − n_tokens) / budget⌋`, i.e. a
    * document belongs to the pack its first token falls in. A document
    * straddling the boundary stays in the pack it started (packs overrun
    * by at most that document's tail — the streaming bin-pack bound), and
    * a document longer than `budget` spans several pack ids, leaving the
    * intermediate ids empty.
    *
    * Scale: packing is embarrassingly parallel per shard — the window
    * partitions by shard, so no global sort and no single-partition window.
    * At 100 TB the shard key (language, source, or a hash bucket) keeps each
    * window partition executor-sized.
    */
  def packSequences(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, shardCol: String, budget: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol).as("id"), col(shardCol).as("shard"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("pack_id",
        floor((col("cum_tokens") - col("n_tokens")) / lit(budget.toDouble)).cast("long"))
  }

  /** Gopher-style repetition statistics: the fraction of token n-gram slots
    * occupied by repeats (`dup_frac = 1 − distinct/total`) and the share of
    * the single most frequent n-gram (`top_frac = max_count/total`), the two
    * filters that catch boilerplate and degenerate loops that plain length/
    * quality heuristics miss.
    *
    * Plan shape is the TF-IDF skeleton: one executor-local explode of the
    * n-gram array, two hash aggregates ((doc, gram) counts → per-doc stats),
    * then a join back to the full document list so under-length documents
    * (fewer than n tokens) still report zero grams instead of vanishing.
    * Linear in corpus size — no quadratic stage, nothing driver-side.
    */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int = 2): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    val base = df.select(col(idCol).as("id"), col(textCol).as("text"))
    val grams = graft.functions.ColOps.parallelize(base)
      .filter(size(split(col("text"), " ", -1)) >= n)
      .select(col("id"),
        explode(graft.functions.ColOps.bindLet(split(col("text"), " ", -1), ws =>
          transform(sequence(lit(1), size(ws) - lit(n - 1)),
            i => concat_ws(" ", slice(ws, i, lit(n)))))).as("gram"))
    val counts = grams.groupBy("id", "gram").agg(count(lit(1)).as("c"))
    val stats = counts.groupBy("id").agg(
      sum("c").as("tot"), count(lit(1)).as("dis"), max("c").as("topc"))
    base.select(col("id")).join(stats, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("tot"), lit(0L)).as("n_grams"),
        round(when(col("tot") > 0,
          (col("tot") - col("dis")).cast("double") / col("tot").cast("double"))
          .otherwise(lit(0.0)), 6).as("dup_frac"),
        round(when(col("tot") > 0,
          col("topc").cast("double") / col("tot").cast("double"))
          .otherwise(lit(0.0)), 6).as("top_frac"))
  }

  /** Corpus-wide heavy hitters: the `k` most frequent word `n`-grams with
    * their occurrence and distinct-document counts — the "what boilerplate
    * dominates this crawl" report every curation pass starts from.
    *
    * Plan: one executor-local n-gram explode, ONE hash aggregate computing
    * both counts (map-side partial combine — hot grams pre-reduce inside
    * each task before the shuffle), then top-k as `orderBy.limit(k)`, which
    * Catalyst plans as `TakeOrderedAndProject` — a bounded per-partition
    * heap + driver merge of k rows per partition, NOT a global sort. At
    * 100 TB the shuffle carries one row per distinct gram (vocab-sized, not
    * corpus-sized) and the driver sees k rows. Ties break on the gram text
    * so the result is total-ordered and engine-reproducible.
    */
  def topNgrams(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int = 2, k: Int = 20): org.apache.spark.sql.DataFrame = {
    require(n >= 1 && k >= 1, s"need n >= 1 and k >= 1, got n=$n k=$k")
    import graft.dedup.Dedup
    // pre-filter under-length docs: sequence(1, size-n+1) would run
    // DESCENDING for size < n (Spark's sequence reverses when start > stop)
    val grams = graft.functions.ColOps.parallelize(df)
      .select(col(idCol).as("id"), Dedup.tokens(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("id"),
        explode(transform(sequence(lit(1), size(col("ws")) - lit(n - 1)),
          i => concat_ws(" ", slice(col("ws"), i, lit(n))))).as("gram"))
      .filter(col("gram") =!= "")
    grams.groupBy("gram")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("gram").asc)
      .limit(k)
  }

  /** Polynomial rolling hash (h·31 + codepoint, mod 1e9+7) over the
    * normalized text — the incremental-hash flavor of fingerprinting (cheap
    * to extend, engine-portable integer arithmetic; same value from DuckDB's
    * `list_reduce`). Normalization leaves only ASCII `[a-z0-9 ]`, so
    * codepoint == byte and the fold is well-defined everywhere.
    *
    * Runs as the native [[graft.functions.RollingHash]] expression: one
    * O(n) code-point walk inside whole-stage codegen. The Column-only HOF
    * form (`TextOracle.rollingFingerprintSpec`, in TextSpec's source) is
    * the executable spec TextSpec pins it equal to — O(n²) per document
    * because `substr(i, 1)` rescans the string.
    */
  def rollingFingerprint(text: Column): Column =
    graft.functions.RollingHash.rollingHash(
      normalize(text))

  /** Hashed-feature LINEAR CLASSIFIER inference — the fasttext-shaped
    * quality filter as one codegen'd pass: each normalized token hashes to
    * one of `buckets` feature ids (portable md5 idiom), the model is a
    * weight per bucket, and the document score is the mean token weight
    * (fasttext mean pooling, linear head). Plan: token explode → per-token
    * weight lookup as pure arithmetic → one partial-combined hash
    * aggregate per document — the scalable shape for model-based filtering
    * of a 100 TB corpus (no UDF, no per-row model object, shuffle only on
    * the doc id).
    *
    * The weight table here is DETERMINISTICALLY GENERATED from the bucket
    * id (integer affine hash → [-10000, 10000], divided out at the end),
    * standing in for trained weights the same way the multimodal codec is
    * stubbed: the inference plumbing — feature hashing, pooling,
    * thresholding — is real and oracle-checked; a production model would
    * broadcast its integer weight array instead. Integer weight sums keep
    * the aggregation EXACT in any engine; the single final division is
    * deterministic IEEE.
    *
    * Returns `(id, n_tokens, clf_score, keep)`. The score is the RAW
    * double quotient of two exact integers — deliberately NOT rounded:
    * both engines divide the same exact `sw` by the same exact
    * `n·10⁴`, so the doubles are bit-identical, whereas a fixed-dp round
    * applied separately by each engine diverges when the exact rational
    * lands on a decimal half (Spark HALF_UP on the exact binary value vs
    * DuckDB's multiply-then-round — observed at sf0.1). `keep` compares
    * the INTEGER sum, not the float.
    */
  def classifierScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, buckets: Int = 1024): org.apache.spark.sql.DataFrame = {
    // empty-string tokens are dropped: `split("", " ")` yields [""], which
    // would hash the md5("") bucket and score an empty/punctuation-only
    // document by one arbitrary weight; such documents instead come back
    // via the left join with n_tokens=0, null score, keep=false
    val toks = graft.functions.ColOps.parallelize(df)
      .select(col(idCol).as("id"),
        explode(graft.dedup.Dedup.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val bucket = conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long") % buckets
    val wInt = (bucket * 2654435761L + 123456789L) % 2147483647L % 20001L - 10000L
    val agg = toks.select(col("id"), wInt.as("wi"))
      .groupBy("id")
      .agg(sum(col("wi")).as("sw"), count(lit(1)).as("n_tokens"))
    df.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (col("sw").cast("double") / (col("n_tokens") * 10000.0)).as("clf_score"),
        coalesce(col("sw") >= 0L, lit(false)).as("keep"))
  }

  /** Edit-distance fuzzy matching, doubly bounded for scale: candidates
    * block on a `pfxLen`-char prefix of the normalized text with a
    * `maxBlock` cap (the d4 skew guard — a pathological shared-prefix
    * block drops whole rather than going quadratic), and the levenshtein
    * itself runs over `headLen`-char heads only, bounding the O(len²) DP.
    * Returns `(a, b, lev)` pairs with `lev <= maxLev`.
    *
    * Shared by the `t13_fuzzy_match` contract query and `tools.Stress` so
    * the stress numbers always characterize exactly the contract shape.
    */
  def fuzzyMatchBlocked(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, headLen: Int = 48, pfxLen: Int = 16,
      maxBlock: Int = 256, maxLev: Int = 16): org.apache.spark.sql.DataFrame = {
    val norm = normalize(col(textCol))
    val docs = df.select(col(idCol).as("id"),
      substring(norm, 1, headLen).as("head"), substring(norm, 1, pfxLen).as("pfx"))
    val keep = docs.groupBy("pfx").agg(count(lit(1)).as("n"))
      .filter(col("n").between(2, maxBlock)).select("pfx")
    // shared-exchange self-join (r17) — see Dedup.prefixBlockedJaccard:
    // renames above ONE repartition make the b side a ReusedExchange, so
    // the normalize pass runs once, not once per side
    val sides = docs.join(keep, Seq("pfx"), "left_semi")
      .repartition(col("pfx"))
    val a = sides.select(col("pfx"), col("id").as("a"), col("head").as("ha"))
    val b = sides.select(col("pfx"), col("id").as("b"), col("head").as("hb"))
    a.join(b, Seq("pfx")).filter(col("a") < col("b"))
      .withColumn("lev", levenshtein(col("ha"), col("hb")).cast("long"))
      .filter(col("lev") <= maxLev)
      .select(col("a"), col("b"), col("lev"))
  }

  /** Output-capped fuzzy matching — [[fuzzyMatchBlocked]]'s doubly-bounded
    * candidate generation with the skew guard applied to the OUTPUT side
    * too: pairs are symmetrized (every doc is a "left" for its matches in
    * both directions) and each left side keeps only its `k` best partners
    * (lowest distance, ties to the lowest partner id), with the
    * pre-truncation candidate count carried per row (`n_cands`) so callers
    * see exactly what the cap dropped. Output is ≤ n·k rows regardless of
    * block density — a template-heavy corpus whose blocks are pair-dense
    * (the t13 stress shape: 21k+ pairs at 80k docs, output-bound) cannot
    * blow up the result. One extra shuffle on the left id; the window
    * state per key is the in-block candidate list, already ≤ maxBlock.
    */
  def fuzzyMatchTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, headLen: Int = 48, pfxLen: Int = 16,
      maxBlock: Int = 256, maxLev: Int = 16, k: Int = 3): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"need k >= 1: $k")
    // symmetrize with a NARROW generator instead of a self-union: a union
    // of (pairs, swapped pairs) is two separate plan subtrees — the two
    // branches shuffle on different keys, so exchange reuse cannot
    // deduplicate them and the O(block²) levenshtein candidate generation
    // would run twice (or need a materialization whose cached RDD nothing
    // could ever unpersist — the long-lived-session cache leak). One
    // explode on the single join output keeps ONE candidate pass and
    // leaves nothing pinned behind.
    val pairs = fuzzyMatchBlocked(df, idCol, textCol, headLen, pfxLen, maxBlock, maxLev)
    val sym = pairs.select(explode(array(
        struct(col("a"), col("b"), col("lev")),
        struct(col("b").as("a"), col("a").as("b"), col("lev")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("p.lev").as("lev"))
    val byA = org.apache.spark.sql.expressions.Window.partitionBy("a")
    val w = byA.orderBy(col("lev").asc, col("b").asc)
    sym.withColumn("rnk", row_number().over(w))
      .withColumn("n_cands", count(lit(1)).over(byA))
      .filter(col("rnk") <= k)
  }

  /** BPE merge discovery — TOKENIZER TRAINING as a bounded-round
    * aggregation. The corpus is first compacted into the classic
    * word-frequency table (ONE corpus scan + one vocab-sized shuffle —
    * exactly how production BPE trainers scale: all subsequent rounds
    * operate on the vocab, whose size is corpus-sublinear). Each word
    * becomes a space-joined symbol sequence (initially characters); every
    * round counts adjacent symbol pairs weighted by word frequency, picks
    * the most frequent pair (ties broken lexicographically — a collect of
    * exactly ONE row per round, driver state bounded by `rounds`), and
    * applies the merge to every word with a left-to-right non-overlapping
    * literal replace (the same semantics `replace` has in every engine,
    * making the whole loop oracle-replayable value-exactly). Returns one
    * row per round: (round, pair, merged, pair_count).
    *
    * At 100 TB: the corpus-sized work is the single word-count scan; the
    * `rounds` loop never touches the corpus again. For thousands of merges
    * you would checkpoint the vocab frame every ~50 rounds to truncate
    * lineage; at contract scale the chain is shallow.
    */
  def bpeMerges(df: org.apache.spark.sql.DataFrame, textCol: String,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeCore(df, textCol, rounds, wantCurve = false)._1
      .toDF("round", "pair", "merged", "pair_count")
      .select(col("round").cast("int").as("round"), col("pair"),
        col("merged"), col("pair_count"))
  }

  /** The APPLY half of [[bpeMerges]] — the corpus compression curve: total
    * symbol count (Σ word-freq × symbols-per-word, exact integers) after
    * each merge round, round 0 being the raw character tokenization. The
    * number a tokenizer owner watches: how much sequence length each merge
    * buys. Same cost shape as training — the corpus is scanned once, every
    * round is vocab-sized.
    */
  def bpeCompressionCurve(df: org.apache.spark.sql.DataFrame, textCol: String,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeCore(df, textCol, rounds, wantCurve = true)._2
      .toDF("round", "total_symbols")
      .select(col("round").cast("int").as("round"), col("total_symbols"))
  }

  /** Per-document ENCODE under the tokenizer [[bpeMerges]] fits — the
    * loader-side token accounting a training pipeline budgets by. The
    * merge rounds run once (vocab-sized, exactly [[bpeMerges]]); the final
    * word→symbol-count vocab — corpus-sublinear by construction — then
    * BROADCASTS back to one exploded corpus scan, so the per-document cost
    * is a codegen'd split + a broadcast hash join + one partial-aggregated
    * groupBy: no corpus-sized shuffle beyond the per-doc rollup, the same
    * shape at 100 TB (the fitted vocab is the only state that moves).
    *
    * Token rule: an in-vocab word costs its post-merge symbol count; an
    * out-of-vocab alphabetic word falls back to characters (the byte-level
    * BPE convention); anything non-alphabetic counts 1. `chars_per_token`
    * is the raw quotient of two exact integers — bit-identical in any
    * engine, so it ships unrounded (the j7 tie discipline).
    */
  def bpeEncode(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, rounds: Int): org.apache.spark.sql.DataFrame = {
    val vocabF = bpeCore(df, textCol, rounds, wantCurve = false)._3
      .select(col("word"), size(split(trim(col("sym")), " ", -1)).as("n_sym"))
    val alpha = col("word").rlike("^[a-z]+$") && length(col("word")) >= 2
    df.select(col(idCol), explode(split(lower(col(textCol)), " ", -1)).as("word"))
      .join(broadcast(vocabF), Seq("word"), "left")
      .select(col(idCol),
        when(alpha, coalesce(col("n_sym"), length(col("word"))))
          .otherwise(lit(1)).cast("long").as("tok"),
        when(alpha, coalesce(col("n_sym"), length(col("word"))))
          .otherwise(lit(0)).cast("long").as("alpha_tok"),
        when(alpha, length(col("word"))).otherwise(lit(0))
          .cast("long").as("alpha_chars"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        sum(col("tok")).as("n_tokens"),
        sum(col("alpha_tok")).as("n_alpha_tokens"),
        sum(col("alpha_chars")).as("alpha_chars"))
      .withColumn("chars_per_token",
        when(col("n_alpha_tokens") > 0,
          col("alpha_chars").cast("double") / col("n_alpha_tokens")))
  }

  private def bpeCore(df: org.apache.spark.sql.DataFrame, textCol: String,
      rounds: Int, wantCurve: Boolean)
      : (Seq[(Int, String, String, Long)], Seq[(Int, Long)],
         org.apache.spark.sql.DataFrame) = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1,64], got $rounds")
    val vocab0 = df
      .select(explode(split(lower(col(textCol)), " ", -1)).as("word"))
      .filter(col("word").rlike("^[a-z]+$") && length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      // pad so a merge pair is always matchable as ' x y ' regardless of
      // position; symbols stay single-space-joined through every round
      .withColumn("sym",
        concat(lit(" "), trim(regexp_replace(col("word"), "(.)", "$1 ")), lit(" ")))
      .cache()
    vocab0.count()
    // `word` rides through every merge round untouched so the final frame
    // doubles as the fitted word→symbols vocabulary ([[bpeEncode]]'s input);
    // the loop itself only rewrites `sym`
    var vocab = vocab0.select(col("word"), col("freq"), col("sym"))
    def totalSymbols(v: org.apache.spark.sql.DataFrame): Long =
      v.select(sum(col("freq") * size(split(trim(col("sym")), " ", -1))))
        .head().getLong(0)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    val curve = Seq.newBuilder[(Int, Long)]
    try {
      if (wantCurve) curve += ((0, totalSymbols(vocab)))
      (1 to rounds).foreach { r =>
        // a fully-merged word is ONE symbol: drop it before pairing —
        // Spark's sequence(1, 0) counts DOWN (it is not empty like
        // DuckDB's range), so the guard must be a row filter
        val pairs = vocab
          .select(col("freq"), split(trim(col("sym")), " ", -1).as("a"))
          .filter(size(col("a")) >= 2)
          .select(col("freq"),
            explode(transform(sequence(lit(1), size(col("a")) - 1),
              i => concat(element_at(col("a"), i), lit(" "),
                element_at(col("a"), i + 1)))).as("pair"))
          .groupBy("pair").agg(sum(col("freq")).as("cnt"))
        val top = pairs.orderBy(col("cnt").desc, col("pair").asc).limit(1)
          .collect()
        if (top.nonEmpty) {
          val pair = top(0).getString(0)
          val cnt = top(0).getLong(1)
          val merged = pair.replace(" ", "")
          merges += ((r, pair, merged, cnt))
          // applied TWICE: one left-to-right non-overlapping pass skips an
          // occurrence whose leading space the preceding match consumed
          // ('a b a b' -> 'ab a b'); the second pass picks up such skipped
          // occurrences ('ab ab'). This deterministic double-pass
          // literal-replace is the semantics the DuckDB oracle replays
          // verbatim; on odd runs of a self-overlapping pair it can differ
          // from strict greedy BPE ('aaaaa' + 'a a' -> [aa,a,aa] here vs
          // greedy's [aa,aa,a]) — symbol counts match, but adjacent-pair
          // counts in later rounds may diverge from a strict-greedy trainer
          def mergePass(c: org.apache.spark.sql.Column) =
            regexp_replace(c,
              java.util.regex.Pattern.quote(s" $pair "), s" $merged ")
          vocab = vocab.withColumn("sym", mergePass(mergePass(col("sym"))))
          if (wantCurve) curve += ((r, totalSymbols(vocab)))
        }
      }
    } finally vocab0.unpersist()
    // the returned vocab frame's lineage recomputes the (unpersisted)
    // word-count scan at action time — the merges are already RESOLVED
    // string literals in its plan, so the recompute is deterministic and
    // collects nothing further
    (merges.result(), curve.result(), vocab)
  }
}
