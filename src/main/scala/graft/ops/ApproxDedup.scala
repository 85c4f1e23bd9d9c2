package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for training-data pipelines: character
  * shingles, word n-grams, exact n-gram Jaccard, MinHash + LSH banding,
  * and SimHash — all as declarative DataFrame programs.
  *
  * Scale design: per-document signature computation is a narrow map
  * (explode → hash → groupBy doc, map-side combined). Candidate
  * generation never compares all pairs: LSH bands shuffle on
  * (band, bucket-hash) so only colliding documents meet, which is the
  * only strategy that survives a 100 TB corpus. The exact-Jaccard pair
  * join is for verification of candidates / small blocked domains.
  *
  * All hashes derive from md5 (32-bit hex prefixes) so results are
  * deterministic and engine-portable — the DuckDB oracle reproduces
  * them exactly; no JVM hashCode / murmur reliance.
  */
object ApproxDedup {

  /** A lazily-built result paired with a `release()` that unpersists the
    * op's internal persisted intermediates. Call release AFTER the result
    * has been materialized (collected / written) — earlier just forces
    * the multi-branch DAG to re-derive them. The non-scoped siblings keep
    * the intermediates cached for same-plan reuse (Spark's cache manager
    * dedupes) — use the scoped form in long-lived sessions so nothing
    * orphans. */
  final case class Scoped(df: DataFrame, release: () => Unit)

  /** Large 33-bit prime for the affine MinHash permutations. */
  val MinhashPrime = 4294967311L

  /** Guardrail for the pairwise (O(block²)) operators: fail fast when
    * any block exceeds `maxRows`, instead of silently launching a
    * quadratic self-join over a hot block. Costs one count-aggregation
    * pass over the blocking column (cheap — one shuffle of (block, n)).
    * Callers that trip it should reroute through the scale-safe sibling
    * ([[jaccardPairsInverted]] / LSH-bucket blocking). */
  private[ops] def requireBoundedBlocks(df: DataFrame, block: String,
                                        maxRows: Int, op: String): Unit =
    // null blocking keys never pair in the guarded equi-joins — a big
    // null group is harmless, not hot (blockHistogram excludes them)
    if (maxRows > 0)
      requireBoundedBlocksHist(blockHistogram(df, block), maxRows, op)

  /** The (blk, n) hot-block histogram the guarded pair joins consult —
    * one row per distinct blocking key (null keys excluded: they never
    * pair in the guarded equi-joins). PERSIST THIS NEXT TO THE LEDGER
    * TABLES ([[LshLedger]] / the fixture family): the histogram is
    * metadata-sized (distinct blocks, not rows), so a refresh's guard
    * reads it plus the batch delta instead of re-aggregating the full
    * corpus — the per-run [[requireBoundedBlocks]] scan (and, worse,
    * re-deriving the blocking expression behind it) disappears from
    * the steady-state plan. */
  /** The fewest partitions the edit-distance kernels run on, whatever
    * the vocabulary's size estimate. At ~30 ms CPU per input KB, a
    * vocabulary the optimizer under-sizes would otherwise run its whole
    * variant join on one core; on a truly tiny vocabulary the floor
    * costs a few hash-agg states of a few KB each. */
  private[graft] val EditKernelMinPartitions = 4

  /** Edit-distance-1 similarity join over a distinct-string table —
    * SymSpell's deletion-neighborhood blocking (Garbe's symmetric
    * delete algorithm; the lossless-blocking argument is classical):
    * two distinct strings with Levenshtein distance ≤ 1 ALWAYS share a
    * member of {s} ∪ deletions₁(s) — a substitution at position i
    * leaves both i-deletions equal, and an insertion/deletion makes
    * one string a 1-deletion of the other — so an equi-join on the
    * exploded variant set is a COMPLETE candidate generator, verified
    * exactly with the codegen'd `levenshtein` built-in. The fuzzy-match
    * primitive (typo-tolerant vocabulary joins, near-identical field
    * linking) in the [[jaccardPairs]] scale posture: candidates =
    * Σ variant-block², never |vocab|², and the same hot-block
    * histogram guard fails fast when a variant (e.g. the 1-deletion
    * of every 2-letter word) would break that bound. Input should be
    * DISTINCT strings (vocabulary-dimension, the [[graft.ops.Bpe]]
    * histogram discipline — at corpus scale join words, not
    * occurrences). Output: (word_a, word_b) with word_a < word_b,
    * distance exactly 1. */
  def editDistance1Pairs(words: DataFrame, wordCol: String,
                         maxBlockRows: Int = 0): DataFrame = {
    // EXPLICIT keyed repartition under the distinct (round-16): the
    // vocabulary shuffle is tiny in BYTES, so AQE coalesces it to one
    // partition — but everything below EXPLODES (|w|·len variants,
    // Σ block² candidate pairs, a levenshtein per pair) and the whole
    // join stage ran on ONE core (measured 4.2 s of 5.4 s wall on a
    // 15k-word vocabulary). A user repartition with an explicit count
    // is exempt from AQE coalescing; the count derives from the
    // session's parallelism, never a constant. The _w hash partitioning
    // also serves the distinct below it (no second exchange).
    // Round-17 (verdict task #1): the count is WORK-BOUNDED — the
    // vocabulary's size estimate over a 4 KB/task target, clamped to
    // [1, cores]. The kernel's measured work density is ~30 ms CPU per
    // input KB (variant explosion × block² pairs × levenshtein:
    // 5 s CPU from a 150 KB vocabulary, round-17 profile), so 4 KB/task
    // ≈ 100+ ms of real CPU per task; a vocabulary below ~one task's
    // worth no longer fans out to full core count just to duplicate
    // hash-agg state. Production vocabularies saturate the clamp. The
    // estimate can be far too low (a vocabulary exploded from a small
    // scan reads as the scan), so the count never drops below
    // [[EditKernelMinPartitions]].
    val w0 = words.select(col(wordCol).cast("string").as("_w"))
      .filter(col("_w").isNotNull)
    val par = Parallelism.boundedCount(w0, 4 * 1024L, EditKernelMinPartitions)
    val w = w0
      .repartition(par, col("_w"))
      .distinct()
    // {s} ∪ deletions₁(s): position 0 keeps s itself (substr deletes
    // nothing), positions 1..len delete one character each
    val variants = deletionVariants(w, "_w", "_v")
    requireBoundedBlocks(variants, "_v", maxBlockRows, "editDistance1Pairs")
    val a = variants.select(col("_w").as("word_a"), col("_v"))
    val b = variants.select(col("_w").as("word_b"), col("_v"))
    a.join(b, Seq("_v"))
      .filter(col("word_a") < col("word_b"))
      .select(col("word_a"), col("word_b")).distinct()
      .filter(levenshtein(col("word_a"), col("word_b")) === 1)
  }

  /** The SERVE verb of [[editDistance1Pairs]] — SymSpell point lookup:
    * for each probe string, its nearest vocabulary entries within
    * edit distance ≤ 1, via the same lossless deletion-neighborhood
    * equi-join (probe variants × vocabulary variants; candidates =
    * the probes' block collisions, the interactive-probe posture of
    * [[lshNeighborsFromLedger]]). Returns (probe, suggestion, dist)
    * for the MINIMUM distance per probe (0 = exact hit, then 1), all
    * suggestions tied at that distance; probes with nothing within
    * distance 1 are absent (unmatchable, not zero). */
  def editDistance1Lookup(vocab: DataFrame, vocabCol: String,
                          probes: DataFrame, probeCol: String,
                          maxBlockRows: Int = 0): DataFrame = {
    // same explicit-parallelism posture as [[editDistance1Pairs]]: the
    // vocabulary/probe shuffles are byte-tiny (AQE would coalesce to
    // one partition) while the variant explosion and block-collision
    // join below them are the whole cost. Work-bounded per round-17 —
    // see the pair join above for the 4 KB/task derivation.
    def variants(df: DataFrame, c: String, out: String): DataFrame = {
      val base = df.select(col(c).cast("string").as(out))
        .filter(col(out).isNotNull)
      deletionVariants(
        base.repartition(
          Parallelism.boundedCount(base, 4 * 1024L, EditKernelMinPartitions),
          col(out))
          .distinct(),
        out, "_v")
    }
    val v = variants(vocab, vocabCol, "suggestion")
    requireBoundedBlocks(v, "_v", maxBlockRows, "editDistance1Lookup")
    val p = variants(probes, probeCol, "probe")
    val cand = p.join(v, Seq("_v"))
      .select(col("probe"), col("suggestion")).distinct()
      .withColumn("dist", levenshtein(col("probe"), col("suggestion")))
      .filter(col("dist") <= 1)
    val best = cand.groupBy(col("probe")).agg(min(col("dist")).as("dist"))
    cand.join(best, Seq("probe", "dist"))
      .select(col("probe"), col("suggestion"), col("dist"))
  }

  /** The distinct {s} ∪ deletions₁(s) variant set of a distinct-string
    * frame, as (word, variant) rows — shared by [[editDistance1Pairs]]
    * and [[editDistance1Lookup]]. Built as `explode(sequence)` + a
    * plain projected CASE/concat/substr, NOT `explode(transform(...))`:
    * the higher-order `transform` lambda is evaluated INTERPRETED (per
    * element, outside whole-stage codegen), which round-16 measured at
    * ~1.1 s per evaluation on a 15k-word vocabulary — and the pair
    * join evaluates the variant subtree once per side. The flat
    * explode+project shape keeps every expression inside codegen; the
    * produced (word, variant) set is identical row-for-row. */
  private def deletionVariants(w: DataFrame, wordCol: String,
                               out: String): DataFrame =
    w.select(col(wordCol),
        explode(sequence(lit(0), length(col(wordCol)))).as("_del_i"))
      .select(col(wordCol),
        when(col("_del_i") === 0, col(wordCol)).otherwise(
          concat(col(wordCol).substr(lit(1), col("_del_i") - 1),
            col(wordCol).substr(col("_del_i") + 1,
              length(col(wordCol))))).as(out))
      .distinct() // a word can reach one variant via several deletions

  def blockHistogram(df: DataFrame, block: String): DataFrame =
    df.filter(col(block).isNotNull)
      .select(col(block).as("blk"))
      .groupBy("blk").agg(count(lit(1)).as("n"))

  /** The histogram after landing a batch: previous counts plus the
    * batch's — the ledger-upsert step (append a batch's counts, sum
    * per block). Cost O(|histogram| + |batch|), never O(corpus). */
  def updatedBlockHistogram(hist: DataFrame, batch: DataFrame,
                            block: String): DataFrame =
    hist.select(col("blk"), col("n").cast("bigint").as("n"))
      .unionByName(blockHistogram(batch, block))
      .groupBy("blk").agg(sum(col("n")).as("n"))

  /** [[requireBoundedBlocks]] over a PERSISTED (blk, n) histogram
    * instead of a corpus scan: same fail-fast contract, cost bounded by
    * the histogram size. Callers owning a ledger pass
    * [[updatedBlockHistogram]](ledgerHist, batch) so the guard sees
    * ledger + delta — a block pushed over the limit BY the batch still
    * raises. */
  private[graft] def requireBoundedBlocksHist(hist: DataFrame, maxRows: Int,
                                              op: String): Unit =
    if (maxRows > 0) {
      val hot = hist.filter(col("n") > maxRows)
        .orderBy(col("n").desc).limit(3).collect()
      require(hot.isEmpty,
        s"$op: hot block(s) exceed maxBlockRows=$maxRows — " +
          hot.map(r => s"'${r.get(0)}'=${r.getLong(1)} rows").mkString(", ") +
          "; the quadratic pair join would blow up. Use the inverted-index" +
          " or LSH-bucketed variant for these blocks.")
    }

  /** Distinct character n-gram shingles of `text`. */
  def charShingles(text: Column, n: Int): Column =
    when(length(text) >= n,
      array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))
      .otherwise(array(text))

  /** Distinct word n-grams (space-joined) of whitespace-tokenized text.
    *
    * The tokenization is LET-BOUND via a singleton-array `transform`:
    * referencing `split(text)` directly inside the per-index lambda
    * would re-run the regex split once per n-gram per token access —
    * O(tokens² · len) per document, which dominated the LSH pipeline
    * (8.7s of an 11s query at sf0.1). Bound as a lambda variable it
    * evaluates once per row and `element_at` is an O(1) array read. */
  def wordNgrams(text: Column, n: Int): Column =
    call_function("word_ngrams", text, lit(n))

  /** The composable (split → transform → sequence → concat_ws →
    * array_distinct HOF nest) form of [[wordNgrams]] — interprets a
    * lambda per shingle and breaks the surrounding codegen span. Kept
    * as the executable specification: WordNgramsSpec pins the native
    * `word_ngrams` kernel to this form on the driver fixtures. */
  def wordNgramsHof(text: Column, n: Int): Column =
    element_at(
      transform(array(split(text, "\\s+")), toks =>
        when(size(toks) >= n,
          array_distinct(transform(
            sequence(lit(1), size(toks) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*))))
          .otherwise(array(concat_ws(" ", toks)))),
      1)

  /** Exact Jaccard similarity of two distinct-element arrays:
    * |A∩B| / (|A| + |B| - |A∩B|), an exact int/int double division. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** All same-block pairs (idA < idB) with Jaccard >= threshold over a
    * precomputed set column, formed as a blocked self-join with per-pair
    * array intersection. Right when blocks are small (bounded pair count,
    * short arrays); for large blocks with selective shingles use
    * [[jaccardPairsInverted]] — over THIS corpus (tiny blocks, hot
    * shingles shared by most documents) the blocked join measured ~1.6x
    * faster than the inverted index, because Σ df(element)² here exceeds
    * |pairs|·|set|.
    *
    * @param maxBlockRows >0 enables the hot-block guardrail
    *                     ([[requireBoundedBlocks]]); 0 = unguarded.
    * @param histogram a persisted (blk, n) [[blockHistogram]] covering
    *                  `df` — the guard then reads it instead of
    *                  re-aggregating the corpus (refresh callers merge
    *                  in the batch via [[updatedBlockHistogram]]). */
  def jaccardPairs(df: DataFrame, id: String, block: String, setCol: String,
                   threshold: Double, maxBlockRows: Int = 0,
                   histogram: Option[DataFrame] = None): DataFrame = {
    histogram match {
      case Some(h) => requireBoundedBlocksHist(h, maxBlockRows, "jaccardPairs")
      case None => requireBoundedBlocks(df, block, maxBlockRows, "jaccardPairs")
    }
    val a = df.select(col(id).as("id_a"), col(block).as("blk"), col(setCol).as("set_a"))
    val b = df.select(col(id).as("id_b"), col(block).as("blk"), col(setCol).as("set_b"))
    val paired = a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jac", jaccard(col("set_a"), col("set_b")))
    // threshold<=0 keeps every pair — skip the filter entirely, because
    // Catalyst pushes it below the project by re-substituting the whole
    // jaccard expression, doubling the array-intersection work
    val kept = if (threshold > 0) paired.filter(col("jac") >= threshold) else paired
    kept.select(col("id_a"), col("id_b"), col("jac"))
  }

  /** Directional containment pairs over the same blocked self-join:
    * C(A→B) = |A∩B| / |A| — the asymmetric overlap measure that
    * catches NEAR-SUBSET duplication Jaccard structurally misses. A
    * boilerplate block or quoted article fully contained in a much
    * larger page has C ≈ 1 in one direction while Jaccard ≈
    * |small|/|large| ≈ 0, so a Jaccard threshold never fires; keeping
    * pairs by max(c_ab, c_ba) is the standard quote/boilerplate-dedup
    * criterion. Emits BOTH directions per unordered pair (idA < idB).
    * Same hot-block guard family as [[jaccardPairs]]; callers filter
    * empty sets upstream (a 0-element side has no direction). */
  def containmentPairs(df: DataFrame, id: String, block: String,
                       setCol: String, threshold: Double,
                       maxBlockRows: Int = 0,
                       histogram: Option[DataFrame] = None): DataFrame = {
    histogram match {
      case Some(h) =>
        requireBoundedBlocksHist(h, maxBlockRows, "containmentPairs")
      case None =>
        requireBoundedBlocks(df, block, maxBlockRows, "containmentPairs")
    }
    val a = df.select(col(id).as("id_a"), col(block).as("blk"),
      col(setCol).as("set_a"))
    val b = df.select(col(id).as("id_b"), col(block).as("blk"),
      col(setCol).as("set_b"))
    val paired = a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("c_ab", col("inter").cast("double") / size(col("set_a")))
      .withColumn("c_ba", col("inter").cast("double") / size(col("set_b")))
    val kept =
      if (threshold > 0)
        paired.filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      else paired
    kept.select(col("id_a"), col("id_b"), col("c_ab"), col("c_ba"))
  }

  /** Exact Jaccard pairs via the INVERTED-INDEX formulation: explode
    * sets to (block, element, id), self-join on the element, count
    * matches per pair. Work is Σ_element df(element)² instead of
    * |pairs|·|set| — the shape that survives large blocks with
    * selective elements. Pairs with an empty intersection never
    * materialize (their Jaccard is 0). */
  /** @param maxDf >0 drops "stop shingles" present in more than maxDf
    *        documents of a block BEFORE the self-join. A shingle with
    *        document frequency f contributes f² join rows — one hot
    *        shingle ("the and") can dominate Σdf²; capping df bounds the
    *        worst case at blocks·maxDf² per shingle. Dropping a shingle
    *        can only LOWER a pair's counted intersection, so pairs kept
    *        at `threshold` may undercount slightly — the standard
    *        recall-for-cost trade; 0 disables (exact). */
  def jaccardPairsInverted(df: DataFrame, id: String, block: String, setCol: String,
                           threshold: Double, maxDf: Int = 0): DataFrame =
    jaccardPairsInvertedScoped(df, id, block, setCol, threshold, maxDf).df

  /** [[jaccardPairsInverted]] with an ownable cache lifetime. */
  def jaccardPairsInvertedScoped(df: DataFrame, id: String, block: String,
                                 setCol: String, threshold: Double,
                                 maxDf: Int = 0): Scoped = {
    // The exploded posting list feeds BOTH sides of the self-join;
    // persisting it stops Spark from re-deriving the (expensive)
    // shingle expressions once per branch — measured 5x on this corpus.
    val ex0 = df
      .select(col(id), col(block).as("blk"), col(setCol).as("s"))
      .withColumn("sz", size(col("s")))
      .select(col(id), col("blk"), col("sz"), explode(col("s")).as("sh"))
    val exFiltered =
      if (maxDf > 0) {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("blk", "sh")
        ex0.withColumn("_df", count(lit(1)).over(w))
          .filter(col("_df") <= maxDf)
          .drop("_df")
      } else ex0
    val ex = exFiltered
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = ex.select(col(id).as("id_a"), col("blk"), col("sz").as("sz_a"), col("sh"))
    val b = ex.select(col(id).as("id_b"), col("blk"), col("sz").as("sz_b"), col("sh"))
    val pairs = a.join(b, Seq("blk", "sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jac",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
    Scoped(pairs, () => { ex.unpersist(); () })
  }

  /** Exact Jaccard pairs via PREFIX FILTERING (the AllPairs/PPJoin
    * principle — Chaudhuri et al. 2006, Bayardo et al. 2007, Xiao et
    * al. 2008): the corpus-wide set-similarity join that needs NO
    * blocking column. With every set sorted by one global rarest-first
    * order, a pair with J ≥ t must share its SMALLEST common element
    * inside both documents' prefixes of length |x| − ⌈t·|x|⌉ + 1
    * (if that element sat deeper, all ≥⌈t·|x|⌉ intersection elements
    * would fit in the ⌈t·|x|⌉−1 suffix slots — contradiction), so
    * joining only on PREFIX tokens is lossless — the oracle checks
    * equality with the brute-force all-pairs join.
    *
    * Scale shape: the index explodes ~(1−t)·|x| tokens per document,
    * and those are the RAREST tokens by construction — posting lists
    * of frequent tokens live in suffixes and never join. Candidates
    * additionally pass the size filter min·1e6 ≥ t_ppm·max before the
    * exact verify touches the set arrays. This is the scale-safe
    * corpus-wide sibling of the blocked [[jaccardPairs]] (which needs
    * a curated blocking key) and the inverted index
    * [[jaccardPairsInverted]] (which explodes EVERY token and pays
    * Σ df² on hot ones).
    *
    * The threshold is ppm (integer): prefix lengths, the size filter
    * and the verify use exact integer arithmetic — an IEEE ⌈t·|x|⌉
    * at a representation boundary (0.6·5 = 3.0000000000000004) would
    * silently SHORTEN a prefix and lose pairs. Output jac is the
    * int/int double, bit-identical in any engine. */
  def jaccardPairsPrefix(df: DataFrame, id: String, setCol: String,
                         thresholdPpm: Long,
                         maxTokenDf: Int = DefaultMaxPrefixTokenDf): DataFrame =
    jaccardPairsPrefixScoped(df, id, setCol, thresholdPpm, maxTokenDf).df

  /** Hot-token guard default for the prefix join: a prefix token with
    * document frequency f contributes f² candidate pairs, so one
    * stop-word-class token (bigram grams over a small vocabulary push
    * df into the hundreds) silently turns the join quadratic — the
    * measured adversarial case in SCALING.md ran 9× the selective
    * config. The sentinel derives the bound from the corpus:
    * min(10 000, max(10, 1% of documents)) — relative because
    * "quadratic" means df ~ O(corpus) (a stop token sits in a fixed
    * FRACTION of documents at any scale), absolutely capped because
    * past df=10⁴ a single token's df² = 10⁸ candidates is a wall
    * regardless of corpus size. Same fail-fast discipline as
    * [[requireBoundedBlocks]]; 0 disables (measurement harnesses
    * only), any positive value is an explicit absolute bound. */
  val DefaultMaxPrefixTokenDf: Int = -1

  private def autoPrefixTokenDf(nDocs: Long): Long =
    math.min(10000L, math.max(10L, nDocs / 100L))

  /** The prepared (id, s, sz) base the prefix join runs over. */
  private[graft] def prefixBase(df: DataFrame, id: String,
                                setCol: String): DataFrame =
    df.select(col(id).as("id"), col(setCol).as("s"))
      .filter(col("s").isNotNull)
      .withColumn("sz", size(col("s")).cast("bigint"))
      .filter(col("sz") > 0)

  /** The per-document prefix-token table (id, sz, tok) — each document
    * keeps its sz − ⌈t·sz⌉ + 1 RAREST tokens by the one global
    * canonical order (document frequency asc, token asc); vocab-sized
    * frequency table, integer ppm arithmetic. This is both the join
    * index and what the hot-token guard histograms. */
  private[graft] def prefixTokens(base: DataFrame,
                                  thresholdPpm: Long): DataFrame = {
    val toks = base.select(col("id"), col("sz"), explode(col("s")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("tdf"))
    toks
      .join(dfreq, "tok")
      .groupBy(col("id"), col("sz"))
      .agg(sort_array(collect_list(struct(col("tdf"), col("tok"))))
        .as("st"))
      .withColumn("p",
        (col("sz") - expr(s"(sz * ${thresholdPpm}L + 999999) div 1000000")
          + 1).cast("int"))
      .select(col("id"), col("sz"),
        explode(expr("slice(st, 1, p)")).as("e"))
      .select(col("id"), col("sz"), col("e.tok").as("tok"))
  }

  /** The (blk, n) histogram of PREFIX-token document frequencies — the
    * metadata-sized table the hot-token guard reads. PERSIST THIS NEXT
    * TO A LEDGER (the [[blockHistogram]] convention): a refresh's
    * guard then reads histogram + batch delta
    * ([[updatedBlockHistogram]]) instead of re-deriving the prefix
    * index of the full corpus. */
  def prefixTokenHistogram(df: DataFrame, id: String, setCol: String,
                           thresholdPpm: Long): DataFrame =
    blockHistogram(prefixTokens(prefixBase(df, id, setCol), thresholdPpm)
      .select(col("tok")), "tok")

  /** The candidate stage of the prefix join — (id_a, id_b) pairs that
    * share a prefix token and pass the size filter, BEFORE the exact
    * verify. Exposed so the scaling probe measures the SHIPPED
    * pipeline, not a re-implementation that could drift. */
  private[graft] def prefixCandidates(base: DataFrame,
                                      thresholdPpm: Long): DataFrame =
    candidatesFromPrefixTokens(prefixTokens(base, thresholdPpm), thresholdPpm)

  private def candidatesFromPrefixTokens(pref: DataFrame,
                                         thresholdPpm: Long): DataFrame = {
    // candidates: share a prefix token + pass the size filter
    val a = pref.select(col("id").as("id_a"), col("sz").as("sz_a"), col("tok"))
    val b = pref.select(col("id").as("id_b"), col("sz").as("sz_b"), col("tok"))
    a.join(b, Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("sz_a"), col("sz_b")) * 1000000L
        >= greatest(col("sz_a"), col("sz_b")) * thresholdPpm)
      .select("id_a", "id_b").distinct()
  }

  /** [[jaccardPairsPrefix]] with an ownable cache lifetime.
    *
    * @param maxTokenDf >0 fails FAST when any prefix token's document
    *        frequency exceeds it, instead of silently launching the
    *        Σ df² candidate join a hot token makes quadratic; 0
    *        disables. The check costs one metadata-sized aggregation
    *        of the (persisted, reused) prefix index — or nothing, when
    *        a ledger-held [[prefixTokenHistogram]] is passed.
    * @param prefixHistogram a persisted (blk, n) prefix-token
    *        histogram covering `df` — the guard then reads it instead
    *        of aggregating the prefix index (refresh callers merge in
    *        the batch via [[updatedBlockHistogram]]). */
  def jaccardPairsPrefixScoped(df: DataFrame, id: String, setCol: String,
                               thresholdPpm: Long,
                               maxTokenDf: Int = DefaultMaxPrefixTokenDf,
                               prefixHistogram: Option[DataFrame] = None)
      : Scoped = {
    require(thresholdPpm > 0 && thresholdPpm <= 1000000,
      "prefix filtering needs a positive ppm threshold (lossless only " +
        "prunes when t > 0)")
    val base = prefixBase(df, id, setCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the prefix index feeds the guard histogram AND both sides of the
    // candidate join — one persisted derivation
    val pref = prefixTokens(base, thresholdPpm)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (maxTokenDf != 0)
      try {
        val bound =
          if (maxTokenDf > 0) maxTokenDf.toLong
          else autoPrefixTokenDf(base.count())
        val hist = prefixHistogram
          .getOrElse(blockHistogram(pref.select(col("tok")), "tok"))
        val hot = hist.filter(col("n") > bound)
          .orderBy(col("n").desc).limit(3).collect()
        require(hot.isEmpty,
          s"jaccardPairsPrefix: hot prefix token(s) exceed maxTokenDf=$bound — " +
            hot.map(r => s"'${r.get(0)}'=${r.getLong(1)} docs").mkString(", ") +
            "; each contributes df² candidate pairs. Use longer/rarer grams" +
            " (higher n) or a higher threshold (shorter prefixes), or the" +
            " LSH-banded variant for this corpus.")
      } catch { // fail-fast must not orphan the scoped caches
        case t: Throwable => base.unpersist(); pref.unpersist(); throw t
      }
    val cand = candidatesFromPrefixTokens(pref, thresholdPpm)
    // exact verify on the candidate pairs only
    val setsA = base.select(col("id").as("id_a"), col("s").as("set_a"),
      col("sz").as("vsz_a"))
    val setsB = base.select(col("id").as("id_b"), col("s").as("set_b"),
      col("sz").as("vsz_b"))
    val verified = cand
      .join(setsA, "id_a").join(setsB, "id_b")
      .withColumn("inter",
        size(array_intersect(col("set_a"), col("set_b"))).cast("bigint"))
      // integer cross-multiplication: inter/union >= t_ppm/1e6 exactly
      .filter(col("inter") * 1000000L
        >= (col("vsz_a") + col("vsz_b") - col("inter")) * thresholdPpm)
      .withColumn("jac", col("inter").cast("double")
        / (col("vsz_a") + col("vsz_b") - col("inter")))
      .select(col("id_a"), col("id_b"), col("jac"))
    Scoped(verified, () => { base.unpersist(); pref.unpersist(); () })
  }

  /** Portable 32-bit base hash: the first 8 hex chars of md5. */
  def hash32(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("bigint")

  /** Portable 60-bit hash: the first 15 hex chars of md5 (fits a signed
    * 64-bit integer in every engine). */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("bigint")

  /** The i-th affine MinHash permutation of a 32-bit base hash. */
  def minhashPerm(h: Column, i: Int): Column =
    (h * (2 * i + 1) + 7919L * i) % MinhashPrime

  /** MinHash signatures: one row per id with columns mh_0..mh_{k-1},
    * computed ROW-LOCAL by the native `minhash_sig` kernel
    * ([[graft.plans.MinhashSig]]) — no explode, no shuffle; the
    * signature step runs at scan speed and the first exchange in a
    * pair-mining plan is the (band, bucket) collision join. The
    * null/empty filter replicates the composable form's semantics
    * (explode emits nothing for a null or empty shingle set, so the
    * document simply has no signature row). */
  def minhashSignature(df: DataFrame, id: String, setCol: String, k: Int): DataFrame = {
    val mh = call_function("minhash_sig", col(setCol), lit(k))
    df.filter(col(setCol).isNotNull && size(col(setCol)) > 0)
      .select(col(id), mh.as("_mh"))
      .select(col(id) +:
        (0 until k).map(i => element_at(col("_mh"), i + 1).as(s"mh_$i")): _*)
  }

  /** The composable explode + k-min groupBy form of
    * [[minhashSignature]] — the portable baseline the kernel must match
    * bit-for-bit (MinhashSigSpec), kept per the docs/KERNELS.md rule. */
  def minhashSignatureHof(df: DataFrame, id: String, setCol: String, k: Int): DataFrame = {
    val h = hash32(col("_shingle"))
    val aggs = (0 until k).map(i => min(minhashPerm(h, i)).as(s"mh_$i"))
    df.select(col(id), explode(col(setCol)).as("_shingle"))
      .groupBy(col(id))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding over a MinHash signature: k = bands * rowsPerBand;
    * emits (id, band, bucket) where bucket = md5 of the band's slice.
    * Documents sharing any (band, bucket) are near-dup candidates. */
  def lshBuckets(sig: DataFrame, id: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val perBand = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      sig.select(
        col(id),
        lit(b).as("band"),
        md5(concat_ws(",", slice: _*).cast("binary")).as("bucket"))
    }
    perBand.reduce(_ unionByName _)
  }

  /** Candidate pairs (idA < idB) colliding in at least one LSH band.
    * The join shuffles on (band, bucket) — collision groups only. */
  def lshCandidatePairs(sig: DataFrame, id: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val buckets = lshBuckets(sig, id, bands, rowsPerBand)
    val a = buckets.select(col(id).as("id_a"), col("band"), col("bucket"))
    val b = buckets.select(col(id).as("id_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** End-to-end MinHash-LSH near-dup pairs, candidates verified with
    * exact Jaccard over the shingle sets.
    *
    * The shingle sets and signatures feed multiple branches of the DAG
    * (bucket self-join sides + two verify joins), so they are persisted —
    * without it Spark re-runs the explode + k-min aggregation once per
    * branch, which dominated the wall-clock. Small relative to the
    * corpus (k longs + the shingle arrays per doc). */
  def minhashLshPairs(df: DataFrame, id: String, setCol: String,
                      k: Int, bands: Int, rowsPerBand: Int,
                      threshold: Double): DataFrame =
    minhashLshPairsScoped(df, id, setCol, k, bands, rowsPerBand, threshold).df

  /** [[minhashLshPairs]] with an ownable cache lifetime ([[Scoped]]). */
  def minhashLshPairsScoped(df: DataFrame, id: String, setCol: String,
                            k: Int, bands: Int, rowsPerBand: Int,
                            threshold: Double): Scoped = {
    require(bands * rowsPerBand == k, "k must equal bands*rowsPerBand")
    val sets = df.select(col(id), col(setCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sig = minhashSignature(sets, id, setCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = lshCandidatePairs(sig, id, bands, rowsPerBand)
    val pairs = cand
      .join(sets.select(col(id).as("id_a"), col(setCol).as("set_a")), Seq("id_a"))
      .join(sets.select(col(id).as("id_b"), col(setCol).as("set_b")), Seq("id_b"))
      .withColumn("jac", jaccard(col("set_a"), col("set_b")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
    Scoped(pairs, () => { sig.unpersist(); sets.unpersist(); () })
  }

  /** The persisted state of an incremental MinHash-LSH near-dup index:
    * `buckets` — (id, band, bucket) banded signature slices of every
    * ingested document — and `sets` — (id, shingle-set) for exact-
    * Jaccard verification of candidate collisions. Both are plain
    * DataFrames so production stores them as parquet tables (buckets
    * bucketed by (band, bucket) for a co-located collision join; sets
    * bucketed by id for the verify probe) and a refresh READS them —
    * the refresh plan never touches the ingested corpus's raw text,
    * which is the property that makes "incremental" real at 100 TB.
    * Mirrors the fingerprint-ledger contract of
    * [[graft.ops.Dedup.incrementalNovel]]/`updatedLedger` (reference
    * analogue: the sent-message ledger probe,
    * AzureTaskProducer/inventory_lib.py:146-162 — read a store, never
    * recompute history). */
  final case class LshLedger(buckets: DataFrame, sets: DataFrame)

  /** Derive ledger content from a corpus — the one-time bootstrap (or
    * per-batch append source). `sets` is the (id, setCol) projection;
    * `buckets` is its banded MinHash.
    *
    * STATED CONTRACT (not a kernel side effect): a document whose
    * shingle set is null or empty carries NO ledger rows — it can never
    * collide in a band nor verify a candidate, on either side of a
    * refresh. The explicit filter here makes the ledger's `sets` agree
    * with what [[minhashSignature]] signs (the native `word_ngrams`
    * kernel yields NULL for null text, where the old HOF chain produced
    * an empty-string shingle — this call site pins which behavior the
    * persisted state has). */
  def lshLedger(docs: DataFrame, id: String, setCol: String, k: Int,
                bands: Int, rowsPerBand: Int): LshLedger = {
    require(bands * rowsPerBand == k, "k must equal bands*rowsPerBand")
    val sets = docs.filter(col(setCol).isNotNull && size(col(setCol)) > 0)
      .select(col(id), col(setCol))
    LshLedger(lshBuckets(minhashSignature(sets, id, setCol, k), id,
      bands, rowsPerBand), sets)
  }

  /** The ledger after landing a batch: previous state plus the batch's
    * surviving (novel) rows' buckets and sets. Appends only — one
    * signature computation over the (small) landed batch, never over
    * history; same append-only contract as
    * [[graft.ops.Dedup.updatedLedger]]. */
  def updatedLshLedger(ledger: LshLedger, novel: DataFrame, id: String,
                       setCol: String, k: Int, bands: Int,
                       rowsPerBand: Int): LshLedger = {
    val add = lshLedger(novel, id, setCol, k, bands, rowsPerBand)
    LshLedger(ledger.buckets.unionByName(add.buckets),
      ledger.sets.unionByName(add.sets))
  }

  /** Incremental MinHash-LSH near-dup dedup: the NEW batch's survivors
    * against an already-ingested corpus — the daily-refresh shape. The
    * old corpus is NEVER self-joined: its bucket stream meets only the
    * (small) batch's buckets, so per refresh the work is
    * O(|old| + |new| + collisions(new×old) + collisions(new×new)),
    * not the O(collisions(corpus²)) a full re-mine pays.
    *
    * This is the SELF-CONTAINED form (old side derived from `oldDocs`
    * in-plan); the production shape is
    * [[incrementalLshNovelFromLedger]], which reads a persisted
    * [[LshLedger]] and re-derives nothing.
    *
    * Survivor rule (documented contract, same winner convention as
    * [[graft.ops.Dedup.exact]] / lineDedup): a new doc is dropped when
    * its verified Jaccard vs ANY old doc, or vs any SMALLER-id new doc,
    * reaches `threshold`. Chains collapse transitively toward smaller
    * ids within the batch — batch-internal semantics match a per-batch
    * [[minhashLshPairs]] + smaller-id winner pick.
    *
    * @return the surviving (novel) rows of `newDocs`, all columns. */
  def incrementalLshNovel(oldDocs: DataFrame, newDocs: DataFrame,
                          id: String, setCol: String, k: Int, bands: Int,
                          rowsPerBand: Int, threshold: Double): DataFrame =
    incrementalLshNovelScoped(oldDocs, newDocs, id, setCol, k, bands,
      rowsPerBand, threshold).df

  /** [[incrementalLshNovel]] with an ownable cache lifetime. */
  def incrementalLshNovelScoped(oldDocs: DataFrame, newDocs: DataFrame,
                                id: String, setCol: String, k: Int,
                                bands: Int, rowsPerBand: Int,
                                threshold: Double): Scoped =
    incrementalLshNovelFromLedgerScoped(
      lshLedger(oldDocs, id, setCol, k, bands, rowsPerBand),
      newDocs, id, setCol, k, bands, rowsPerBand, threshold)

  /** [[incrementalLshNovelFromLedger]] — the production refresh: the
    * old side arrives as a persisted [[LshLedger]] (bucket + set
    * tables), so the refresh plan scans ledger parquet and the landing
    * batch ONLY — no signature/shingle recomputation over history, no
    * read of the ingested corpus's text. Work per refresh is
    * O(|ledger scan| + |new| + collisions). Semantics are identical to
    * [[incrementalLshNovel]] (spec-enforced). */
  def incrementalLshNovelFromLedger(oldLedger: LshLedger,
                                    newDocs: DataFrame, id: String,
                                    setCol: String, k: Int, bands: Int,
                                    rowsPerBand: Int,
                                    threshold: Double): DataFrame =
    incrementalLshNovelFromLedgerScoped(oldLedger, newDocs, id, setCol,
      k, bands, rowsPerBand, threshold).df

  /** [[incrementalLshNovelFromLedger]] with an ownable cache lifetime. */
  def incrementalLshNovelFromLedgerScoped(oldLedger: LshLedger,
                                          newDocs: DataFrame, id: String,
                                          setCol: String, k: Int,
                                          bands: Int, rowsPerBand: Int,
                                          threshold: Double): Scoped = {
    require(bands * rowsPerBand == k, "k must equal bands*rowsPerBand")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the batch side feeds three branches (two candidate joins + the
    // verify joins) — persist it; the OLD side streams through exactly
    // once per use (bucket join, verify sets) and is never collected
    val newSets = newDocs.select(col(id), col(setCol)).persist(lvl)
    val oldSets = oldLedger.sets
    val newSig = minhashSignature(newSets, id, setCol, k).persist(lvl)
    val newBk = lshBuckets(newSig, id, bands, rowsPerBand)
      .select(col(id).as("id_new"), col("band"), col("bucket"))
      .persist(lvl)
    val oldBk = oldLedger.buckets

    // candidate generation: (band, bucket) equi-joins, new side only
    val vsOld = newBk
      .join(oldBk.select(col(id).as("id_old"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select("id_new", "id_old").distinct()
    val vsNew = newBk
      .join(newBk.select(col("id_new").as("id_prev"), col("band"),
        col("bucket")), Seq("band", "bucket"))
      .filter(col("id_prev") < col("id_new"))
      .select("id_new", "id_prev").distinct()

    // exact-Jaccard verification kills LSH false positives
    def dupIds(cand: DataFrame, otherId: String,
               otherSets: DataFrame): DataFrame =
      cand
        .join(newSets.select(col(id).as("id_new"), col(setCol).as("_sn")),
          Seq("id_new"))
        .join(otherSets.select(col(id).as(otherId), col(setCol).as("_so")),
          Seq(otherId))
        .filter(jaccard(col("_sn"), col("_so")) >= threshold)
        .select(col("id_new"))
    // no .distinct(): left_anti tolerates duplicate right-side rows
    // (the family convention — see Dedup.incrementalNovel), so the
    // dup-id stream skips an extra shuffle
    val dups = dupIds(vsOld, "id_old", oldSets)
      .unionByName(dupIds(vsNew, "id_prev", newSets))
    val novel = newDocs.join(dups.withColumnRenamed("id_new", id),
      Seq(id), "left_anti")
    Scoped(novel, () =>
      { newBk.unpersist(); newSig.unpersist(); newSets.unpersist(); () })
  }

  /** Verified near-dup PAIRS a landing batch introduces — the EDGE
    * FEED for incremental dup-graph maintenance (pair it with
    * [[graft.ops.ConnectedComponents.refresh]] to keep a persisted
    * duplicate-cluster ledger current without re-clustering history).
    * Same candidate and verify joins as
    * [[incrementalLshNovelFromLedgerScoped]] — the old corpus is never
    * self-joined; work per refresh is O(|ledger scan| + |new| +
    * collisions) — but instead of collapsing to a survivor set, the
    * verified pairs themselves return.
    *
    * @return (id_new, id_other): batch×old pairs plus batch-internal
    *         pairs (the latter once, with id_other < id_new). */
  def incrementalLshPairsFromLedger(oldLedger: LshLedger,
                                    newDocs: DataFrame, id: String,
                                    setCol: String, k: Int, bands: Int,
                                    rowsPerBand: Int,
                                    threshold: Double): DataFrame =
    incrementalLshPairsFromLedgerScoped(oldLedger, newDocs, id, setCol,
      k, bands, rowsPerBand, threshold).df

  /** [[incrementalLshPairsFromLedger]] with an ownable cache lifetime. */
  def incrementalLshPairsFromLedgerScoped(oldLedger: LshLedger,
                                          newDocs: DataFrame, id: String,
                                          setCol: String, k: Int,
                                          bands: Int, rowsPerBand: Int,
                                          threshold: Double): Scoped = {
    require(bands * rowsPerBand == k, "k must equal bands*rowsPerBand")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val newSets = newDocs.select(col(id), col(setCol))
      .filter(col(setCol).isNotNull && size(col(setCol)) > 0)
      .persist(lvl)
    val newSig = minhashSignature(newSets, id, setCol, k).persist(lvl)
    val newBk = lshBuckets(newSig, id, bands, rowsPerBand)
      .select(col(id).as("id_new"), col("band"), col("bucket"))
      .persist(lvl)
    val vsOld = newBk
      .join(oldLedger.buckets
        .select(col(id).as("id_other"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select("id_new", "id_other").distinct()
    val vsNew = newBk
      .join(newBk.select(col("id_new").as("id_other"), col("band"),
        col("bucket")), Seq("band", "bucket"))
      .filter(col("id_other") < col("id_new"))
      .select("id_new", "id_other").distinct()
    def verified(cand: DataFrame, otherSets: DataFrame): DataFrame =
      cand
        .join(newSets.select(col(id).as("id_new"), col(setCol).as("_sn")),
          Seq("id_new"))
        .join(otherSets.select(col(id).as("id_other"), col(setCol).as("_so")),
          Seq("id_other"))
        .filter(jaccard(col("_sn"), col("_so")) >= threshold)
        .select(col("id_new"), col("id_other"))
    val pairs = verified(vsOld, oldLedger.sets)
      .unionByName(verified(vsNew, newSets))
    Scoped(pairs, () =>
      { newBk.unpersist(); newSig.unpersist(); newSets.unpersist(); () })
  }

  /** Point near-dup LOOKUP against a persisted ledger — "show me this
    * document's near-duplicates among everything ingested", the serve
    * sibling of the refresh ops above (reference analogue: the
    * sent-message store point probe, inventory_lib.py:146-162, at
    * near-dup rather than exact granularity). Work per probe is its
    * band-bucket collisions only: the probe's ≤bands bucket rows
    * equi-join the ledger's bucket table (at store scale a
    * (band, bucket)-bucketed table co-locates this join), candidates
    * verify with exact Jaccard, self-matches drop. Probe-to-probe
    * pairs are NOT reported — lookup answers "neighbors in the
    * corpus", not "cluster the probes" (that is
    * [[incrementalLshPairsFromLedger]]).
    *
    * @return (probe, neighbor, jac) with jac ≥ threshold */
  def lshNeighborsFromLedger(ledger: LshLedger, queries: DataFrame,
                             id: String, setCol: String, k: Int,
                             bands: Int, rowsPerBand: Int,
                             threshold: Double): DataFrame = {
    require(bands * rowsPerBand == k, "k must equal bands*rowsPerBand")
    val qSets = queries.select(col(id), col(setCol))
      .filter(col(setCol).isNotNull && size(col(setCol)) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qBk = lshBuckets(minhashSignature(qSets, id, setCol, k), id,
        bands, rowsPerBand)
      .select(col(id).as("probe"), col("band"), col("bucket"))
    val cand = qBk
      .join(ledger.buckets
        .select(col(id).as("neighbor"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("probe") =!= col("neighbor"))
      .select("probe", "neighbor").distinct()
    val out = cand
      .join(qSets.select(col(id).as("probe"), col(setCol).as("_sq")),
        Seq("probe"))
      .join(ledger.sets.select(col(id).as("neighbor"), col(setCol).as("_sl")),
        Seq("neighbor"))
      .withColumn("jac", jaccard(col("_sq"), col("_sl")))
      .filter(col("jac") >= threshold)
      .select(col("probe"), col("neighbor"), col("jac"))
      .localCheckpoint()
    qSets.unpersist()
    out
  }

  /** 60-bit SimHash over whitespace tokens: bit b of the fingerprint is
    * set when the sum over tokens of ±1 (by bit b of the token's 60-bit
    * hash) is positive. One explode + one groupBy with 60 sums. */
  def simhash(df: DataFrame, id: String, text: Column, bits: Int = 60): DataFrame =
    df.select(col(id),
        call_function("simhash_sig", split(text, "\\s+"), lit(bits))
          .as("simhash"))
      // null text → no signature row, the explode form's semantics
      .filter(col("simhash").isNotNull)

  /** The composable (explode + conditional-sum groupBy) form of
    * [[simhash]] — one shuffle of |corpus| × |tokens/doc| rows with a
    * `bits`-column aggregation state, vs. the kernel's zero. Kept as
    * the executable specification: SimhashKernelSpec pins the native
    * `simhash_sig` kernel to this form on the driver fixtures. */
  def simhashHof(df: DataFrame, id: String, text: Column, bits: Int = 60): DataFrame = {
    val h = hash60(col("_tok"))
    val bitSums = (0 until bits).map { b =>
      sum(when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"bs_$b")
    }
    val fp = (0 until bits).map { b =>
      when(col(s"bs_$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.select(col(id), explode(split(text, "\\s+")).as("_tok"))
      .groupBy(col(id))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(id), fp.as("simhash"))
  }

  /** Hamming distance between two SimHash fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs via band-bucketing: split the b-bit
    * fingerprint into `bands` equal slices; documents sharing ANY slice
    * value are candidates (pigeonhole: hamming < bands guarantees a
    * shared band), then candidates verify with exact hamming ≤
    * `maxHamming`. Same scale shape as MinHash-LSH: the join shuffles
    * only on (band, bucket) collision groups, never all pairs.
    *
    * Recall: COMPLETE only for pairs with hamming < bands; beyond that
    * it is best-effort candidate mining (a pair whose differing bits
    * spread one-per-band shares no slice) — raise `bands` for a larger
    * guaranteed radius at more candidate volume, the standard trade.
    * The signature table is persisted for the op's own multi-branch DAG;
    * use [[simhashPairsScoped]] in long-lived sessions to release it
    * (the plain form leaves it cached — Spark's cache manager dedupes
    * repeated calls on the same plan). */
  def simhashPairs(sig0: DataFrame, id: String, simhashCol: String, bits: Int,
                   bands: Int, maxHamming: Int): DataFrame =
    simhashPairsScoped(sig0, id, simhashCol, bits, bands, maxHamming).df

  /** [[simhashPairs]] with an ownable cache lifetime ([[Scoped]]). */
  def simhashPairsScoped(sig0: DataFrame, id: String, simhashCol: String,
                         bits: Int, bands: Int, maxHamming: Int): Scoped = {
    require(bands > 0 && bits % bands == 0, "bits must divide evenly into bands")
    // The signature table feeds `bands` union branches plus two verify
    // joins — without a persist each branch re-derives the (expensive)
    // explode + bit-sum aggregation behind it. Tiny: (id, 1 long)/doc.
    val sig = sig0.select(col(id), col(simhashCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sliceBits = bits / bands
    val banded = (0 until bands).map { b =>
      sig.select(col(id), lit(b).as("band"),
        shiftright(col(simhashCol), b * sliceBits)
          .bitwiseAND((1L << sliceBits) - 1).as("bucket"))
    }.reduce(_ unionByName _)
    val a = banded.select(col(id).as("id_a"), col("band"), col("bucket"))
    val b = banded.select(col(id).as("id_b"), col("band"), col("bucket"))
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val pairs = cand
      .join(sig.select(col(id).as("id_a"), col(simhashCol).as("sh_a")), Seq("id_a"))
      .join(sig.select(col(id).as("id_b"), col(simhashCol).as("sh_b")), Seq("id_b"))
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b")).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
    Scoped(pairs, () => { sig.unpersist(); () })
  }
}
