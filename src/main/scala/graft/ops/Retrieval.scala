package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked full-text retrieval — BM25-class scoring (Robertson et al.,
  * Okapi BM25) as a declarative inverted-index join: the capability
  * behind known-item search, contamination forensics ("which training
  * docs does this eval question retrieve?") and retrieval-eval
  * harnesses.
  *
  * Scale shape: the corpus side is the (doc, term, tf) posting table —
  * one map-side-combined aggregation off the token explode. Scoring
  * joins POSTING LISTS OF THE QUERY'S TERMS ONLY (the query-term table
  * broadcasts; posting lists of non-query terms are never read after
  * the join filter), accumulates per-(query, doc) scores in one
  * shuffle keyed by (query, doc), and takes top-k per query with a
  * rank window over each query's candidate set — never a global sort.
  * Candidate volume is Σ df over the query's terms, the classic
  * inverted-index bound.
  *
  * Integer-exact contract (the engine's portable-arithmetic idiom):
  * classic BM25 needs `ln` for idf and FP sums whose accumulation
  * order Spark does not fix — both would split a bit-compare oracle.
  * This variant is exact instead: idf is LOG₂-QUANTIZED
  * (`bit_length(N div df)` — 0 for terms in every doc, growing by 1
  * per idf doubling), the tf saturation uses Okapi's k1/b normalizer
  * evaluated entirely in µ-unit (1e-6) integer arithmetic with a fixed
  * division order, and per-term contributions are BIGINT so the final
  * sum is order-free. Scores are monotone in tf and idf exactly as
  * BM25's are; absolute values differ from float BM25 by the idf
  * quantization (documented divergence, RetrievalSpec pins the
  * monotonicity properties).
  */
object Retrieval {

  private val M = 1000000L // µ-unit scale

  /** Posting table (id, term, tf) + per-doc length off one explode. */
  def postings(df: DataFrame, id: String, text: Column): DataFrame =
    df.filter(text.isNotNull)
      .select(col(id), explode(split(text, "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(id), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Top-k BM25-scored documents per query.
    *
    * @param docs     corpus (docId, text)
    * @param queries  query table (queryId, text) — small; broadcast
    * @param k        results per query
    * @param k1Micro  Okapi k1 in µ-units (default 1.2e6)
    * @param bMicro   Okapi b in µ-units (default 0.75e6)
    * Output: (queryId, docId, score_u, rank), rank 1-based by
    * (score_u DESC, docId). */
  def bm25TopK(docs: DataFrame, docId: String, docText: Column,
               queries: DataFrame, queryId: String, queryText: Column,
               k: Int, k1Micro: Long = 1200000L,
               bMicro: Long = 750000L): DataFrame = {
    val post = postings(docs, docId, docText)
    val dl = post.groupBy(col(docId)).agg(sum(col("tf")).as("dl"))
    bm25TopKFromIndex(post, dl, docId, queries, queryId, queryText,
      k, k1Micro, bMicro)
  }

  /** Largest per-document length the µ-unit integer chain supports
    * without 64-bit overflow at the DEFAULT k1/b (documentation
    * value; the runtime guard derives the bound from the ACTUAL
    * parameters via [[maxDocTokensFor]] — a caller passing a larger
    * k1/b gets a correspondingly tighter fail-fast bound, never a
    * silently wrapped score). */
  val MaxDocTokens: Long = maxDocTokensFor(1200000L, 750000L)

  /** The largest per-document token count for which EVERY product in
    * the µ-unit score chain stays under 2^63 at the given parameters,
    * from the chain's own terms (BigInt so the derivation itself
    * cannot overflow): tf·(k1+M)·M (the s_tf numerator), b·dl·M (the
    * normalizer's product), k1·norm_u with norm_u ≤ (M−b)+b·dl (avgdl
    * is ≥ M µ-units since every indexed document has ≥ 1 token), and
    * the s_tf denominator sum. Documents beyond the bound must be
    * split upstream — the serve paths fail FAST on the index stats
    * instead of mis-ranking. */
  def maxDocTokensFor(k1Micro: Long, bMicro: Long): Long = {
    require(k1Micro > 0 && k1Micro <= M * M,
      s"k1Micro must be in (0, 1e12], got $k1Micro")
    require(bMicro >= 0 && bMicro <= M,
      s"bMicro must be in [0, 1e6], got $bMicro")
    val lim = BigInt(Long.MaxValue)
    val c1 = lim / (BigInt(k1Micro + M) * M)
    val c2 = if (bMicro == 0) lim else lim / (BigInt(bMicro) * M)
    val c3 = if (bMicro == 0) lim else (lim / k1Micro - M) / bMicro
    val c4 = lim / (BigInt(M) + BigInt(k1Micro) * bMicro / M + 1)
    c1.min(c2).min(c3).min(c4).max(BigInt(1)).toLong
  }

  /** Per-term document frequencies (term, df) — the idf input as a
    * PERSISTED index table, so serving never re-aggregates posting
    * lists (no countDistinct in any serve plan). */
  def termDf(post: DataFrame, docId: String): DataFrame =
    post.groupBy(col("term")).agg(countDistinct(col(docId)).as("df"))

  /** Corpus scalars (n_docs, total_len, max_dl) as a 1-row index
    * table — the avgdl / overflow-guard input, maintained by the
    * refresh instead of re-aggregated per serve. */
  def corpusStats(dl: DataFrame): DataFrame =
    dl.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("total_len"),
      coalesce(max(col("dl")), lit(0L)).as("max_dl"))

  /** [[termDf]] after landing a DISJOINT batch (append-only refresh:
    * batch doc ids are new, so per-term dfs ADD) — sum-merge, cost
    * O(index terms + batch terms), postings never re-aggregated. */
  def mergedTermDf(tdf: DataFrame, batchPost: DataFrame,
                   docId: String): DataFrame =
    tdf.unionByName(termDf(batchPost, docId))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))

  /** [[corpusStats]] after landing a disjoint batch: counts and
    * lengths add, the max folds. */
  def mergedCorpusStats(stats: DataFrame, batchDl: DataFrame): DataFrame =
    stats.unionByName(corpusStats(batchDl))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_len")).as("total_len"),
        max(col("max_dl")).as("max_dl"))

  /** [[bm25TopK]] served from a PERSISTED index — posting table and
    * per-doc length table as parquet (the same serve-vs-train split
    * as the IVF/PQ family): scoring reads only the query terms'
    * posting rows; the corpus text is never re-tokenized. Derives df
    * (query terms only) and the corpus scalars on the fly — callers
    * that persist them ([[termDf]]/[[corpusStats]], the q154/q155
    * index layout) serve through [[bm25TopKFromIndexTables]], whose
    * plan is pure joins. */
  def bm25TopKFromIndex(post: DataFrame, dl: DataFrame, docId: String,
                        queries: DataFrame, queryId: String,
                        queryText: Column, k: Int,
                        k1Micro: Long = 1200000L,
                        bMicro: Long = 750000L): DataFrame = {
    val qTermSet = queries
      .select(explode(split(queryText, "\\s+")).as("term"))
      .filter(col("term") =!= "").distinct()
    // df only for the QUERY's terms — the countDistinct shuffle runs
    // over their posting lists, not the whole vocabulary
    val tdf = termDf(post.join(broadcast(qTermSet), Seq("term")), docId)
    bm25TopKFromIndexTables(post, dl, tdf, corpusStats(dl), docId,
      queries, queryId, queryText, k, k1Micro, bMicro)
  }

  /** The fully-indexed serve path: posting lists, per-doc lengths,
    * per-term dfs and the corpus-scalar row are all PERSISTED tables
    * maintained by the refresh — the serve plan is joins plus one
    * 1-row stats collect, with no aggregation over postings (a spec
    * pins the absence of countDistinct). `tdf` must cover at least
    * the query's indexed terms; `stats` is exactly one row. */
  def bm25TopKFromIndexTables(post: DataFrame, dl: DataFrame,
                              tdf: DataFrame, stats: DataFrame,
                              docId: String,
                              queries: DataFrame, queryId: String,
                              queryText: Column, k: Int,
                              k1Micro: Long = 1200000L,
                              bMicro: Long = 750000L): DataFrame = {
    // ONE driver action: the 1-row scalar table (N, total length, max
    // doc length — the overflow-guard input)
    val statsRow = stats
      .select(col("n_docs"), col("total_len"), col("max_dl")).collect() match {
      case Array(one) => one
      case rows => sys.error(s"bm25: stats must be one row, got ${rows.length}")
    }
    val nDocs = statsRow.getLong(0)
    val totalLen = statsRow.getLong(1)
    val maxDl = statsRow.getLong(2)
    val maxTokens = maxDocTokensFor(k1Micro, bMicro)
    require(maxDl <= maxTokens,
      s"bm25: a document has $maxDl tokens > $maxTokens (the bound at " +
        s"k1Micro=$k1Micro, bMicro=$bMicro) — the µ-unit integer score " +
        "would overflow Long; split oversized documents upstream (the " +
        "guard fails fast instead of mis-ranking)")
    // BigInt for the average: totalLen * 1e6 overflows Long beyond
    // ~9.2e12 corpus tokens, silently collapsing every normalizer
    val avgDlMicro = ((BigInt(totalLen) * M) / math.max(nDocs, 1L))
      .max(BigInt(1)).min(BigInt(maxTokens) * M).toLong

    // log2-quantized idf in EIGHTH-bit steps: q = 256·N div df, then
    // floor(log2 q) from the bit length plus a 3-bit mantissa
    // correction — integer-exact log2(N/df) in units of 1/8 bit
    // (whole-bit quantization collapses df=2 vs df=3 on small corpora;
    // the mantissa keeps adjacent document frequencies ordered). 0 for
    // df == N, never negative.
    val idf = tdf
      .withColumn("q8", expr(
        s"(CAST($nDocs AS BIGINT) * CAST(256 AS BIGINT)) div df"))
      .withColumn("w_idf", expr(graft.functions.Fns.bits8FromQ8Sql("q8")))

    val qTerms = queries
      .select(col(queryId), explode(split(queryText, "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .distinct()

    val scored = post
      .join(broadcast(qTerms), Seq("term")) // only query-term postings survive
      .join(idf.select(col("term"), col("w_idf")), Seq("term"))
      .join(dl, Seq(docId))
      // Okapi normalizer, µ-units, fixed INTEGER division order:
      //   norm = (1-b) + b * dl/avgdl ;  s_tf = tf(k1+1) / (tf + k1*norm)
      .withColumn("norm_u", expr(
        s"CAST(${M - bMicro} AS BIGINT)" +
          s" + (CAST($bMicro AS BIGINT) * dl * CAST($M AS BIGINT))" +
          s" div CAST($avgDlMicro AS BIGINT)"))
      .withColumn("s_tf_u", expr(
        s"(tf * CAST(${k1Micro + M} AS BIGINT) * CAST($M AS BIGINT))" +
          s" div (tf * CAST($M AS BIGINT)" +
          s" + (CAST($k1Micro AS BIGINT) * norm_u) div CAST($M AS BIGINT))"))
      .groupBy(col(queryId), col(docId))
      .agg(sum(col("w_idf") * col("s_tf_u")).as("score_u"))

    val w = Window.partitionBy(col(queryId))
      .orderBy(col("score_u").desc, col(docId))
    scored
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** Exact whole-token PHRASE search via rarest-gram probing — the
    * contamination-forensics primitive ("which documents contain this
    * eval question verbatim?"). A document containing the phrase
    * necessarily contains every one of the phrase's word n-grams, so
    * ONE gram — the globally rarest — suffices as a lossless
    * candidate probe: candidates per phrase = df(rarest gram), and
    * only those documents' text is ever re-read for the exact
    * whitespace-normalized containment verify. The corpus-side gram
    * index is the same one the dedup family builds; phrases with a
    * gram unseen in the corpus match nothing and skip the verify
    * entirely.
    *
    * Tokenization contract: both the grams and the verify operate on
    * TRIMMED, single-space-normalized token streams (`\s+` → one
    * space, edge whitespace dropped — an untrimmed needle would
    * demand a double space the normalized haystack never has), so a
    * phrase matches iff its exact token sequence occurs — punctuation
    * and case are the caller's normalization choice. Phrases that
    * normalize to the empty string match nothing.
    *
    * Output: (phraseId, docId) for every containing document. */
  def phraseMatches(docs: DataFrame, docId: String, docText: Column,
                    phrases: DataFrame, phraseId: String,
                    phraseText: Column, n: Int = 4): DataFrame =
    phraseMatchesScoped(docs, docId, docText, phrases, phraseId,
      phraseText, n).df

  /** The persisted phrase-serving index — the ledger-family form of
    * [[phraseMatches]]' corpus-side state, so a serve probes TABLES
    * instead of re-exploding the corpus per call (round 9 re-tokenized
    * and re-persisted every invocation):
    *  - `sites` (id, gram): the distinct-document projection of the
    *    dup-span family's positional-gram store
    *    ([[Dedup.positionalNgrams]] — the SAME explode builds both;
    *    at 100 TB store it bucketed by gram so probes co-locate);
    *  - `gramDf` (gram, gdf): the gram document-frequency histogram —
    *    the rarest-gram chooser's metadata-sized input;
    *  - `unigrams` (id, tok): distinct token postings, covering docs
    *    SHORTER than n tokens too (they have no n-gram site) — the
    *    shorter-than-n phrase probe;
    *  - `docs` (id): the landed-id ledger that makes the incremental
    *    update replay-safe ([[Dedup.DupSpanLedger]]'s rule).
    * Phrases with an unindexed gram match nothing; serving equals the
    * direct path row-for-row (PhraseIndexSpec pins parity and that a
    * STALE index is what a serve sees — the probe never falls back to
    * re-reading the corpus). */
  final case class PhraseGramIndex(sites: DataFrame, gramDf: DataFrame,
                                   unigrams: DataFrame, docs: DataFrame,
                                   n: Int)

  /** One-time index bootstrap from the ingested corpus. */
  def phraseGramIndex(docs: DataFrame, docId: String, docText: Column,
                      n: Int = 4): PhraseGramIndex = {
    val sites = Dedup.positionalNgrams(docs, docId, docText, n)
      .select(col(docId), col("gram")).distinct()
    val unigrams = docs.filter(docText.isNotNull)
      .select(col(docId), explode(split(docText, "\\s+")).as("tok"))
      .filter(col("tok") =!= "").distinct()
    PhraseGramIndex(sites,
      sites.groupBy(col("gram")).agg(count(lit(1)).as("gdf")),
      unigrams, docs.select(col(docId)), n)
  }

  /** The index after landing a batch: novel documents' sites/postings
    * append, gram dfs sum-merge, landed ids append — replaying a batch
    * is a no-op (ids already landed), cost O(index delta + batch);
    * old text is never re-tokenized. */
  def updatedPhraseGramIndex(index: PhraseGramIndex, batch: DataFrame,
                             docId: String, docText: Column)
      : PhraseGramIndex = {
    val novel = batch.join(index.docs.select(col(docId)), Seq(docId),
      "left_anti")
    val novelSites = Dedup.positionalNgrams(novel, docId, docText, index.n)
      .select(col(docId), col("gram")).distinct()
    val novelUnigrams = novel.filter(docText.isNotNull)
      .select(col(docId), explode(split(docText, "\\s+")).as("tok"))
      .filter(col("tok") =!= "").distinct()
    PhraseGramIndex(
      index.sites.unionByName(novelSites),
      index.gramDf
        .unionByName(novelSites.groupBy(col("gram")).agg(count(lit(1)).as("gdf")))
        .groupBy(col("gram")).agg(sum(col("gdf")).as("gdf")),
      index.unigrams.unionByName(novelUnigrams),
      index.docs.select(col(docId)).unionByName(novel.select(col(docId))),
      index.n)
  }

  /** [[phraseMatches]] served from a persisted [[PhraseGramIndex]]:
    * the probe joins phrase grams against the index's histogram and
    * site tables ONLY — no corpus-wide gram explode, no unigram
    * re-derivation — and the exact containment verify then re-reads
    * the TEXT of candidate documents alone (the docs table is scanned,
    * never exploded). Losslessness is unchanged: a doc shorter than n
    * tokens has no site but also cannot contain an ≥n-token phrase,
    * and the unigram postings cover every document for the short-
    * phrase path. At cluster scale, pass `docs` as the DSv2 store
    * ([[graft.connectors.GraftVStoreSource]], keyed by `docId`): its
    * runtime filtering turns the candidate-text join into a
    * bucket-pruned point fetch instead of a full text-column scan —
    * the same J2-probe mechanism StoreRuntimeFilterSpec pins. */
  /** Normalized non-empty phrases (phraseId, _pt) — the one phrase
    * form routing, grams, probe and verify all share. */
  private[graft] def normalizePhrases(phrases: DataFrame, phraseId: String,
                                      phraseText: Column): DataFrame =
    phrases.filter(phraseText.isNotNull)
      .withColumn("_pt", trim(regexp_replace(phraseText, "\\s+", " ")))
      .filter(length(col("_pt")) > 0)

  /** The rarest-gram probe (phraseId, gram): each ≥n-token phrase's
    * globally rarest indexed gram, with phrases carrying ANY unindexed
    * gram dropped (they cannot match). Exposed so the scaling probe
    * measures the SHIPPED stage — candidates per phrase are exactly
    * the chosen gram's document frequency. */
  private[graft] def rarestGramProbe(index: PhraseGramIndex,
                                     cleaned: DataFrame,
                                     phraseId: String): DataFrame = {
    val phraseGrams = cleaned
      .filter(size(split(col("_pt"), " ")) >= index.n)
      .select(col(phraseId),
        explode(ApproxDedup.wordNgrams(col("_pt"), index.n)).as("gram"))
    val wRare = Window.partitionBy(col(phraseId))
      .orderBy(col("gdf"), col("gram"))
    phraseGrams
      .join(index.gramDf, Seq("gram")) // inner: unseen gram -> no candidates
      .withColumn("_r", row_number().over(wRare))
      .filter(col("_r") === 1)
      // a phrase with ANY unindexed gram cannot match
      .join(phraseGrams.join(index.gramDf.select(col("gram")), Seq("gram"),
          "left_anti")
        .select(col(phraseId)).distinct(),
        Seq(phraseId), "left_anti")
      .select(col(phraseId), col("gram"), col("gdf"))
  }

  def phraseMatchesFromIndex(index: PhraseGramIndex,
                             docs: DataFrame, docId: String, docText: Column,
                             phrases: DataFrame, phraseId: String,
                             phraseText: Column): DataFrame = {
    val n = index.n
    val cleaned = normalizePhrases(phrases, phraseId, phraseText)
    val shortPhrases = cleaned.filter(size(split(col("_pt"), " ")) < n)
    val probe = rarestGramProbe(index, cleaned, phraseId)
      .select(col(phraseId), col("gram"))
    val gramCandidates = probe.join(index.sites, Seq("gram"))
      .select(col(phraseId), col(docId)).distinct()
    val shortCandidates = shortPhrases
      .select(col(phraseId),
        element_at(split(col("_pt"), " "), 1).as("_tok"))
      .join(index.unigrams.withColumnRenamed("tok", "_tok"), Seq("_tok"))
      .select(col(phraseId), col(docId))
    val dtexts = docs.select(col(docId),
      regexp_replace(docText, "\\s+", " ").as("_dt"))
    val ptexts = cleaned.select(col(phraseId), col("_pt"))
    gramCandidates.unionByName(shortCandidates)
      .join(dtexts, Seq(docId)).join(ptexts, Seq(phraseId))
      .filter(instr(concat(lit(" "), col("_dt"), lit(" ")),
        concat(lit(" "), col("_pt"), lit(" "))) > 0)
      .select(col(phraseId), col(docId))
  }

  /** [[phraseMatches]] with an ownable cache lifetime: the corpus-wide
    * gram explode feeds both the frequency aggregation and the
    * candidate join — persisted once (the [[ApproxDedup]] family
    * convention), released via `release()` after materialization. For
    * REPEATED serving against one corpus, bootstrap a
    * [[PhraseGramIndex]] once and serve via
    * [[phraseMatchesFromIndex]] instead — this path re-derives the
    * corpus gram table per call and exists for ledger-less one-shot
    * use. */
  def phraseMatchesScoped(docs: DataFrame, docId: String, docText: Column,
                          phrases: DataFrame, phraseId: String,
                          phraseText: Column,
                          n: Int = 4): ApproxDedup.Scoped = {
    // one normalized phrase form everywhere: routing, grams, the
    // first-token probe and the verify needle
    val pNorm = trim(regexp_replace(phraseText, "\\s+", " "))
    val cleaned = phrases.filter(phraseText.isNotNull)
      .withColumn("_pt", pNorm).filter(length(col("_pt")) > 0)
    // phrases shorter than n tokens have no n-gram to probe — they
    // take the unigram direct-verify path (the gram probe below never
    // sees them, so no silent false negative)
    val isShort = size(split(col("_pt"), " ")) < n
    val longPhrases = cleaned.filter(!isShort)
    val shortPhrases = cleaned.filter(isShort)
    val docGrams = docs.filter(docText.isNotNull)
      .select(col(docId),
        explode(ApproxDedup.wordNgrams(docText, n)).as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = docGrams.groupBy("gram")
      .agg(count(lit(1)).as("gdf"))
    val phraseGrams = longPhrases
      .select(col(phraseId),
        explode(ApproxDedup.wordNgrams(col("_pt"), n)).as("gram"))
    // rarest gram per phrase (ties: gram asc); an unindexed gram means
    // zero candidates — drop the phrase before the probe
    val wRare = Window.partitionBy(col(phraseId))
      .orderBy(col("gdf"), col("gram"))
    val probe = phraseGrams
      .join(dfreq, Seq("gram")) // inner: unseen gram -> no candidates
      .withColumn("_r", row_number().over(wRare))
      .filter(col("_r") === 1)
      // a phrase with ANY unseen gram cannot match: keep only phrases
      // whose every gram is indexed
      .join(phraseGrams.join(dfreq.select(col("gram")), Seq("gram"),
          "left_anti")
        .select(col(phraseId)).distinct(),
        Seq(phraseId), "left_anti")
      .select(col(phraseId), col("gram"))
    val gramCandidates = probe.join(docGrams, Seq("gram"))
      .select(col(phraseId), col(docId)).distinct()
    // short phrases probe by their FIRST TOKEN through a unigram
    // equi-join (a doc containing the phrase contains its first token
    // — lossless, and never a cross/nested-loop join; a stop-word
    // first token admits that word's full posting list, the inherent
    // cost of a shorter-than-gram phrase)
    val docUnigrams = docs.filter(docText.isNotNull)
      .select(col(docId), explode(split(docText, "\\s+")).as("_tok"))
      .filter(col("_tok") =!= "").distinct()
    val shortCandidates = shortPhrases
      .select(col(phraseId),
        element_at(split(col("_pt"), " "), 1).as("_tok"))
      .join(docUnigrams, Seq("_tok"))
      .select(col(phraseId), col(docId))
    // exact verify on candidates only: token-padded containment over
    // whitespace-normalized text (needle trimmed above — the haystack
    // may keep edge spaces harmlessly)
    val dtexts = docs.select(col(docId),
      regexp_replace(docText, "\\s+", " ").as("_dt"))
    val ptexts = cleaned.select(col(phraseId), col("_pt"))
    val out = gramCandidates.unionByName(shortCandidates)
      .join(dtexts, Seq(docId)).join(ptexts, Seq(phraseId))
      .filter(instr(concat(lit(" "), col("_dt"), lit(" ")),
        concat(lit(" "), col("_pt"), lit(" "))) > 0)
      .select(col(phraseId), col(docId))
    ApproxDedup.Scoped(out, () => { docGrams.unpersist(); () })
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
    * the standard way to combine a lexical (BM25) and a dense (ANN
    * cosine) ranking into one hybrid retrieval list, and the fusion
    * rule RAG stacks reach for first because it needs only RANKS, never
    * score calibration across incomparable scorers.
    *
    * Integer-exact variant: a document at rank r in a list earns
    * `1e6 div (k0 + r)` µ-points (integral division — DuckDB-replayable),
    * and its fused score is the SUM of its points across lists — an
    * order-free BIGINT sum, so the result is partition-independent and
    * bit-comparable. Ties break on document id, as everywhere in the
    * engine.
    *
    * Scale shape: the inputs are already per-query top-N lists (N·|Q|
    * rows — the corpora were reduced by the upstream index serves), so
    * fusion is one union + one (query, doc) map-side-combined sum + a
    * per-query rank window over ≤ lists·N candidates. It never touches
    * a corpus and adds no corpus-sized shuffle to the serve path.
    *
    * @param lists ranked lists, each (queryCol, docCol, rankCol) with
    *              rank 1-based; extra columns are ignored
    * @param k     fused results per query
    * @param k0    RRF smoothing constant (60 in the paper)
    * @return (queryCol, docCol, rrf_u, n_lists, rank): µ-unit fused
    *         score, how many lists carried the doc, 1-based fused rank
    */
  def rrfFuse(lists: Seq[DataFrame], queryCol: String, docCol: String,
              rankCol: String, k: Int, k0: Long = 60L): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: need at least one ranked list")
    require(k >= 1 && k0 >= 1, s"rrfFuse: k=$k and k0=$k0 must be >= 1")
    val pts = lists.map(_.select(col(queryCol), col(docCol),
      expr(s"CAST($M div ($k0 + CAST($rankCol AS BIGINT)) AS BIGINT)")
        .as("_pts")))
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col("rrf_u").desc, col(docCol))
    pts.reduce(_ unionByName _)
      .groupBy(col(queryCol), col(docCol))
      .agg(sum(col("_pts")).cast("bigint").as("rrf_u"),
        count(lit(1)).cast("bigint").as("n_lists"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }
}
