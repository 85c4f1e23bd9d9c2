package graft

import org.apache.spark.sql.functions._

/** Scale-rehearsal probe (test scope — run with
  * `sbt -batch "Test/runMain graft.ScalingProbe"`): runs the ITERATIVE
  * operators at sf0.01 and sf0.1 and prints SCALING.md's table rows —
  * round counts must stay flat as the data grows 10×, because every
  * round is a full shuffle over the working set and a round count that
  * grew with data would multiply, not add, at 100 TB. */
object ScalingProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    import graft.ops._

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // min-of-2 with a cache sweep between: this box's co-tenant IO can
    // double a single pass, and the probe's claim is about plan work,
    // not page-cache luck
    def timedMin(f: => Long): (Long, Double) = {
      val (r1, t1) = timed(f)
      spark.catalog.clearCache()
      val (_, t2) = timed(f)
      spark.catalog.clearCache()
      (r1, math.min(t1, t2))
    }

    // Σ_b n_b·(n_b−1)/2 — the candidate pairs a blocking column admits;
    // the pair-mining family's claim is T ∝ THIS, never N²
    def blockedPairs(df: org.apache.spark.sql.DataFrame,
                     blk: org.apache.spark.sql.Column): Long =
      df.select(blk.as("_b")).groupBy("_b")
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)))
        .collect()(0).getLong(0)

    // (operator, sf) -> (N rows, blocked pairs, seconds)
    val mined = scala.collection.mutable.Map
      .empty[(String, String), (Long, Long, Double)]

    for (sf <- Seq("sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val nDocs = docs.count()

      // the q64 pair graph, via the SAME pipeline q64 ships
      val filtered = exec.CorpusPipeline.filteredCorpus(docs)
      val scoped = exec.CorpusPipeline.nearDupPairGraph(filtered, 0.6)
      val pairs = scoped.df.localCheckpoint()
      val nPairs = pairs.count()

      val (ccN, ccT) = timed {
        ConnectedComponents(pairs, "id_a", "id_b", maxLocalEdges = 0).count()
      }
      val ccRounds = ConnectedComponents.lastRounds.get

      val (scN, scT) = timed {
        ConnectedComponents.starContraction(pairs, "id_a", "id_b").count()
      }
      val scRounds = ConnectedComponents.lastRounds.get
      scoped.release()

      val (sdN, sdT) = timed {
        // maxLocalEdges = 0: this probe measures the DISTRIBUTED
        // loop's round count (the 100 TB multiplier) — the adaptive
        // local path would make the column a constant 1
        SemanticDedup.survivors(emb, "vec_id", "embedding",
          k = 8, iters = 2, threshold = 0.3, maxLocalEdges = 0).count()
      }
      val sdRounds = ConnectedComponents.lastRounds.get // CC inside q60

      val (gcN, gcT) = timed {
        Curation.cappedPerGroup(docs.select(col("doc_id"), col("source")),
          "source", "doc_id", k = 20).count()
      }

      val (ldN, ldT) = timed {
        val lines = CorpusSignals.syntheticLines(docs, "doc_id",
          col("text"), wordsPerLine = 10)
        CorpusSignals.lineDedup(lines, "doc_id", "line_no", "line").count()
      }

      println(f"ROW $sf docs=$nDocs pairs=$nPairs | " +
        f"cc rounds=$ccRounds t=$ccT%.2f n=$ccN | " +
        f"star rounds=$scRounds t=$scT%.2f n=$scN | " +
        f"semdedup ccRounds=$sdRounds kmeansIters=2 t=$sdT%.2f n=$sdN | " +
        f"groupCap stages=2 t=$gcT%.2f n=$gcN | " +
        f"lineDedup t=$ldT%.2f n=$ldN")

      // incremental refresh vs full re-mine. NOT a local wall-time win
      // (at toy scale the refresh runs MORE jobs and is slower — see
      // SCALING.md's honest reading); the claims under measurement are
      // flat refresh wall-time across the 10× and the structural
      // absence of the old×old candidate space.
      val wsAll = docs.withColumn("_sh", ApproxDedup.wordNgrams(col("text"), 2))
      val (incN, incT) = timed {
        val sc1 = ApproxDedup.incrementalLshNovelScoped(
          wsAll.filter(col("doc_id") % 10 =!= 0),
          wsAll.filter(col("doc_id") % 10 === 0),
          "doc_id", "_sh", 16, 4, 4, 0.5)
        val n = sc1.df.count(); sc1.release(); n
      }
      val (fullN, fullT) = timed {
        val sc2 = ApproxDedup.minhashLshPairsScoped(wsAll, "doc_id", "_sh",
          16, 4, 4, 0.5)
        val n = sc2.df.count(); sc2.release(); n
      }
      val (isdN, isdT) = timed {
        SemanticDedup.incrementalSurvivors(
          emb.filter(col("vec_id") % 10 =!= 0),
          emb.filter(col("vec_id") % 10 === 0),
          "vec_id", "embedding", k = 8, iters = 2, threshold = 0.3).count()
      }
      println(f"ROWINC $sf lshRefresh t=$incT%.2f novel=$incN | " +
        f"fullMine t=$fullT%.2f pairs=$fullN | " +
        f"semRefresh t=$isdT%.2f novel=$isdN")

      // ---- pair-mining family (q21 / q52 / q26): wall time vs the
      // BLOCKED candidate-pair count at 10× the corpus. localCheckpoint
      // the inputs so signature/shingle derivation is not re-timed
      // inside the pair joins (the mining step is the claim under test).
      val j21in = docs
        .withColumn("blk", concat_ws("/", col("source"), col("lang")))
        .withColumn("bigrams", ApproxDedup.wordNgrams(col("text"), 2))
        .select("doc_id", "blk", "bigrams").localCheckpoint()
      val b21 = blockedPairs(j21in, col("blk"))
      val (n21, t21) = timedMin(
        ApproxDedup.jaccardPairs(j21in, "doc_id", "blk", "bigrams", 0.0).count())
      mined(("q21_jaccard", sf)) = (nDocs, b21, t21)

      val shBits = 60
      val sig52 = ApproxDedup.simhash(docs, "doc_id", col("text"), shBits)
        .localCheckpoint()
      val sliceBits = shBits / 4
      val banded52 = (0 until 4).map { b =>
        sig52.select(lit(b).as("band"),
          shiftright(col("simhash"), b * sliceBits)
            .bitwiseAND((1L << sliceBits) - 1).as("bucket"))
      }.reduce(_ unionByName _)
      val b52 = blockedPairs(banded52, struct(col("band"), col("bucket")))
      val (n52, t52) = timedMin {
        val sc = ApproxDedup.simhashPairsScoped(sig52, "doc_id", "simhash",
          shBits, bands = 4, maxHamming = 20)
        val n = sc.df.count(); sc.release(); n
      }
      mined(("q52_simhash", sf)) = (nDocs, b52, t52)

      val planes = Similarity.hyperplanes(6, 64)
      val e26 = emb.withColumn("blk", concat_ws("/", col("label"),
          Similarity.lshBucket(col("embedding").cast("array<double>"), planes)))
        .select("vec_id", "blk", "embedding").localCheckpoint()
      val b26 = blockedPairs(e26, col("blk"))
      val nEmb = e26.count()
      val (n26, t26) = timedMin(
        Similarity.nearDupPairs(e26, "vec_id", "blk", "embedding", 0.3).count())
      mined(("q26_embed", sf)) = (nEmb, b26, t26)

      println(f"ROWPAIR $sf | q21 blockedPairs=$b21 t=$t21%.2f kept=$n21 | " +
        f"q52 blockedPairs=$b52 t=$t52%.2f kept=$n52 | " +
        f"q26 blockedPairs=$b26 t=$t26%.2f kept=$n26")
    }

    // Scaling claims across the 10×, stated honestly:
    //  1. wall time tracks the BLOCKED pair count, never N² — exponent
    //    e = ln(T2/T1)/ln(B2/B1) must stay ≤ 1.3 (at sandbox scale the
    //    measured e is ~0: per-pair work is dwarfed by fixed job cost,
    //    which is the point — the mining admits so few pairs the join
    //    is never the bottleneck);
    //  2. the blocked pairs are a BOUNDED FRACTION of C(N,2) — the
    //    quadratic candidate space never materializes. NOTE the pair
    //    GROWTH RATIO approaches N²'s when block cardinality is fixed
    //    while N grows 10× (each block's occupancy grows ∝N): that is
    //    expected, and the production knob is block cardinality itself
    //    (LSH bits/bands scale with corpus size; composite label×LSH
    //    keys for embeddings) — with the hot-block guard failing fast
    //    when occupancy outgrows the chosen key (asserted below).
    for (op <- Seq("q21_jaccard", "q52_simhash", "q26_embed")) {
      val (n1, b1, t1) = mined((op, "sf0.01"))
      val (n2, b2, t2) = mined((op, "sf0.1"))
      val ePairs = math.log(t2 / t1) / math.log(b2.toDouble / b1)
      val frac2 = b2.toDouble / (n2.toDouble * (n2 - 1) / 2)
      println(f"EXPONENT $op: pairs $b1 -> $b2 " +
        f"(${frac2 * 100}%.2f%% of C(N,2) at 10×; N ${n1} -> ${n2}), " +
        f"wall ${t1}%.2f -> ${t2}%.2f s, exponent vs pairs = $ePairs%.2f")
      assert(ePairs <= 1.3,
        s"$op: wall time grows superlinearly in blocked pairs (e=$ePairs)")
      assert(frac2 < 0.05,
        s"$op: blocking admits ${frac2 * 100}%% of all pairs — " +
          "the candidate space is effectively quadratic")
    }

    // ---- dup-span mining (q127/q129): wall time vs the corpus GRAM
    // count (the operator's only corpus-sized object), and the ledger
    // probe vs the full mine. The span window shuffles only MARKED
    // sites — report that fraction so the claim is checkable.
    val dupSpanRows = for (sf <- Seq("sf0.01", "sf0.1")) yield {
      val dir = s"/root/testdata/$sf"
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val grams = Dedup.positionalNgrams(docs, "doc_id", col("text"), 8)
        .localCheckpoint()
      val g = grams.count()
      val marked = grams.groupBy(col("gram")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .agg(coalesce(sum(col("n")), lit(0L))).collect()(0).getLong(0)
      val (nSpans, tFull) = timedMin(
        Dedup.dupSpans(docs, "doc_id", col("text"), 8).count())
      val ledger = Dedup.dupSpanLedger(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", col("text"), 8)
      val ledgerMat = Dedup.DupSpanLedger(
        ledger.grams.localCheckpoint(), ledger.docs.localCheckpoint())
      val (nRef, tRef) = timedMin(
        Dedup.dupSpansFromLedger(ledgerMat,
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", col("text"), 8).count())
      println(f"ROWSPAN $sf grams=$g markedSites=$marked " +
        f"(${marked * 100.0 / g}%.2f%%) fullMine t=$tFull%.2f spans=$nSpans | " +
        f"ledgerProbe t=$tRef%.2f spans=$nRef")
      (g, tFull, marked)
    }
    {
      val (g1, t1, _) = dupSpanRows(0)
      val (g2, t2, m2) = dupSpanRows(1)
      val eGrams = math.log(t2 / t1) / math.log(g2.toDouble / g1)
      println(f"EXPONENT q127_dup_spans: grams $g1 -> $g2, " +
        f"wall $t1%.2f -> $t2%.2f s, exponent vs grams = $eGrams%.2f")
      assert(eGrams <= 1.3,
        s"dupSpans: wall time grows superlinearly in gram count (e=$eGrams)")
      assert(m2.toDouble / g2 < 0.5,
        "marked-site fraction approaches the corpus — the island window " +
          "would shuffle everything")
    }

    // the hot-block guard must trip where designed: a 10×-grown block
    // crossing maxBlockRows fails fast instead of launching the O(n²)
    // join
    {
      import spark.implicits._
      val hot = (0L until 1500L).map(i => (i, "one-block", Seq(s"w$i", "x")))
        .toDF("id", "blk", "sh")
      val tripped =
        try { ApproxDedup.jaccardPairs(hot, "id", "blk", "sh", 0.0,
          maxBlockRows = 1000).count(); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("hot block") }
      assert(tripped, "hot-block guard did not trip at 1500 rows / max 1000")
      println("GUARD_TRIPPED=true (1500-row block vs maxBlockRows=1000)")
    }

    // BPE training is corpus-size-free after the one histogram
    // shuffle: wall time across the 10× must be flat (vocab-sized
    // iterations), and the iterated state IS the vocab, not the corpus
    {
      val rows = for (sf <- Seq("sf0.01", "sf0.1")) yield {
        val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
        val vocab = ops.Bpe.wordHistogram(docs, col("text")).count()
        val (_, t) = timed(
          ops.Bpe.train(docs, col("text"), numMerges = 8).count())
        println(f"BPE $sf vocab=$vocab train t=$t%.2f s")
        (vocab, t)
      }
      val (v1, t1) = rows(0); val (v2, t2) = rows(1)
      println(f"BPE iterations fold vocab-sized state ($v1 -> $v2 words) " +
        f"while the corpus grows 10x; wall $t1%.2f -> $t2%.2f s")
      assert(t2 <= 2.0 * t1 + 1.0,
        s"BPE train wall time must not track corpus size ($t1 -> $t2)")
    }

    // prefix filtering confines the candidate space: at q147's 4-gram
    // t=0.8 configuration the verified join runs over a vanishing
    // fraction of C(N,2)
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
        .withColumn("s", ApproxDedup.wordNgrams(col("text"), 4))
      val n = docs.count()
      val tPpm = 800000L
      // measure the SHIPPED candidate stage, not a re-implementation
      val cand = ApproxDedup.prefixCandidates(
        ApproxDedup.prefixBase(docs, "doc_id", "s"), tPpm).count()
      val all = n * (n - 1) / 2
      println(f"PREFIX $sf candidates=$cand of C(N,2)=$all " +
        f"(${cand * 100.0 / all}%.4f%%)")
      assert(cand < all / 100,
        s"prefix filter admitted $cand of $all pairs — not confining")
    }

    // the MG sketch's shuffle moves (groups x partitions) summary rows,
    // never the token stream: measure shuffle-write records vs the
    // exact per-token aggregation on the same input
    {
      def shuffleRecords(body: => Unit): Long =
        Meter.measure(spark)(body)._2.stages.map(_.shuffleRecords).sum
      val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val toks = docs.select(col("lang"),
          explode(split(col("text"), "\\s+")).as("tok"))
        .filter(col("tok") =!= "").localCheckpoint()
      val nGroups = toks.select("lang").distinct().count()
      val mgRec = shuffleRecords(
        ops.FreqItems.sketch(toks, Seq("lang"), col("tok"), 64).count())
      val exRec = shuffleRecords(
        toks.groupBy("lang", "tok").agg(count(lit(1))).count())
      println(s"MG_SHUFFLE sketch=$mgRec records vs exact=$exRec records " +
        s"($nGroups groups)")
      assert(mgRec < exRec,
        s"MG sketch must shuffle fewer rows than the exact aggregate " +
          s"($mgRec vs $exRec)")
    }

    // ---- retrieval family (q154 / q156): the candidate volumes ARE
    // the index bounds — BM25 candidates = Σ df over the query's
    // terms, phrase candidates = Σ df(rarest gram) — asserted exactly
    // (not printed-and-hoped), with serve wall time tracked against
    // them across the 10×
    val retRows = for (sf <- Seq("sf0.01", "sf0.1")) yield {
      val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
      val post = ops.Retrieval.postings(docs, "doc_id", col("text"))
        .localCheckpoint()
      val dl = post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
        .localCheckpoint()
      val tdf = ops.Retrieval.termDf(post, "doc_id").localCheckpoint()
      val stats = ops.Retrieval.corpusStats(dl).localCheckpoint()
      val queries = docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 4)).as("qtext"))
      val qTerms = queries
        .select(col("query_id"), explode(split(col("qtext"), "\\s+")).as("term"))
        .filter(col("term") =!= "").distinct().localCheckpoint()
      // the serve plan's candidate stage: only query-term postings join
      val bmCand = post.join(qTerms, Seq("term")).count()
      val bmBound = qTerms.join(tdf, Seq("term"))
        .agg(coalesce(sum(col("df")), lit(0L))).collect()(0).getLong(0)
      assert(bmCand == bmBound,
        s"BM25 candidates ($bmCand) must equal Σ df over query terms ($bmBound)")
      val (bmN, bmT) = timedMin(
        ops.Retrieval.bm25TopKFromIndexTables(post, dl, tdf, stats,
          "doc_id", queries, "query_id", col("qtext"), 5).count())

      val idx0 = ops.Retrieval.phraseGramIndex(docs, "doc_id", col("text"), 4)
      val idx = ops.Retrieval.PhraseGramIndex(idx0.sites.localCheckpoint(),
        idx0.gramDf.localCheckpoint(), idx0.unigrams.localCheckpoint(),
        idx0.docs.localCheckpoint(), idx0.n)
      val phrases = docs.filter(col("doc_id") % 100 === 50)
        .select(col("doc_id").as("phrase_id"),
          concat_ws(" ", slice(split(col("text"), "\\s+"), 3, 6)).as("phrase"))
      val probe = ops.Retrieval.rarestGramProbe(idx,
        ops.Retrieval.normalizePhrases(phrases, "phrase_id", col("phrase")),
        "phrase_id").localCheckpoint()
      val phBound = probe.agg(coalesce(sum(col("gdf")), lit(0L)))
        .collect()(0).getLong(0)
      val phCand = probe.select("phrase_id", "gram")
        .join(idx.sites, Seq("gram")).count()
      assert(phCand == phBound,
        s"phrase candidates ($phCand) must equal Σ df(rarest gram) ($phBound)")
      val (phN, phT) = timedMin(
        ops.Retrieval.phraseMatchesFromIndex(idx, docs, "doc_id", col("text"),
          phrases, "phrase_id", col("phrase")).count())
      println(f"ROWRET $sf | bm25 candidates=$bmCand (=Σdf) t=$bmT%.2f " +
        f"top=$bmN | phrase candidates=$phCand (=Σdf(rarest)) t=$phT%.2f " +
        f"matches=$phN")
      (bmCand, bmT, phCand, phT)
    }
    {
      val (c1, t1, p1, u1) = retRows(0)
      val (c2, t2, p2, u2) = retRows(1)
      val eBm = math.log(t2 / t1) / math.log(c2.toDouble / c1)
      val ePh = math.log(u2 / u1) / math.log(p2.toDouble / p1)
      println(f"EXPONENT q154_bm25: candidates $c1 -> $c2, " +
        f"wall $t1%.2f -> $t2%.2f s, exponent vs candidates = $eBm%.2f")
      println(f"EXPONENT q156_phrase: candidates $p1 -> $p2, " +
        f"wall $u1%.2f -> $u2%.2f s, exponent vs candidates = $ePh%.2f")
      assert(eBm <= 1.3,
        s"BM25 serve grows superlinearly in its candidate bound (e=$eBm)")
      assert(ePh <= 1.3,
        s"phrase serve grows superlinearly in its candidate bound (e=$ePh)")
    }

    // ---- vocab-scale BPE (the round-9 wall): ≥2000 merges trained and
    // encoded on sf0.1 in bounded time. The fixture vocabulary is ~31
    // words, so compound words (spaces -> _) supply the adjacent-pair
    // inventory a real subword corpus has; the driver-local greedy loop
    // runs zero Spark jobs per merge and the iterative encoder is
    // chain-length-free — 2000 merges was structurally unreachable for
    // the per-merge-job trainer and the merge-deep expression fold
    {
      val docs = spark.read
        .parquet("/root/testdata/sf0.1/documents.parquet")
        .select(col("doc_id"),
          regexp_replace(col("text"), "\\s+", "_").as("text"))
      val nMerges = 2000
      val (chain, tTrain) = timed(
        ops.Bpe.mergeChain(ops.Bpe.train(docs, col("text"), nMerges)))
      assert(chain.size == nMerges,
        s"corpus must support $nMerges merges, learned ${chain.size}")
      val (nEnc, tEnc) = timed(
        ops.Bpe.encode(docs, "doc_id", col("text"), chain).count())
      assert(nEnc == docs.count())
      println(f"BPE_VOCAB_SCALE merges=$nMerges train t=$tTrain%.1f s " +
        f"encode t=$tEnc%.1f s over ${nEnc} docs (sf0.1 compound words)")
    }

    // ---- trainer / fusion / graph-maintenance shapes (round-10 second
    // wave): model state is coordinate-count-sized at every corpus
    // size, fusion input is rank-list-sized by construction, and an
    // incremental CC refresh's contracted graph is batch-bounded (it
    // must ride the driver union-find fast path: lastRounds == 1)
    val trRows = for (sf <- Seq("sf0.01", "sf0.1")) yield {
      val emb = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val feats = ops.LinearTrainer.embeddingFeatures(emb, "vec_id",
        col("embedding")).localCheckpoint()
      val labels = emb.select(col("vec_id"),
        ops.LinearTrainer.labelU(col("label") < 5).as("y_u"))
      val n = emb.count()
      val (res, t) = timed(ops.LinearTrainer.lmsTrain(feats, labels,
        "vec_id", steps = 4, lrDenom = 1048576L))
      assert(res.weights.size == 64,
        s"model must stay coordinate-sized, got ${res.weights.size}")
      println(f"TRAINER $sf n=$n wall=$t%.2f s weights=${res.weights.size}")
      (n, t)
    }
    {
      val (n1, t1) = trRows(0); val (n2, t2) = trRows(1)
      val e = math.log(t2 / t1) / math.log(n2.toDouble / n1)
      println(f"EXPONENT q162_trainer: rows $n1 -> $n2, wall $t1%.2f -> " +
        f"$t2%.2f s, exponent = $e%.2f")
      assert(e <= 1.3, s"trainer grows superlinearly in corpus rows (e=$e)")
    }
    {
      val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .withColumn("_sh", ops.ApproxDedup.wordNgrams(col("text"), 2))
      val old = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val ledgerCc = ops.ConnectedComponents(
        ops.ApproxDedup.minhashLshPairs(old, "doc_id", "_sh", 16, 4, 4, 0.5),
        "id_a", "id_b")
      val nLedger = ledgerCc.count()
      val pairs = ops.ApproxDedup.incrementalLshPairsFromLedger(
        ops.ApproxDedup.lshLedger(old, "doc_id", "_sh", 16, 4, 4), batch,
        "doc_id", "_sh", 16, 4, 4, 0.5).localCheckpoint()
      val nPairs = pairs.count()
      val (nRef, tRef) = timed(ops.ConnectedComponents.refresh(ledgerCc,
        "id", "comp", pairs, "id_new", "id_other").count())
      val rounds = ops.ConnectedComponents.lastRounds.get
      assert(rounds == 1,
        s"refresh's contracted CC must ride the local fast path " +
          s"(batch-bounded graph), took $rounds distributed rounds")
      println(f"CC_REFRESH sf0.1 ledger=$nLedger batchPairs=$nPairs " +
        f"refreshed=$nRef wall=$tRef%.2f s contractedRounds=$rounds")
    }
    {
      // RRF input is EXACTLY lists·top-k·|Q| rows — corpus-independent
      val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      val dense = ops.Similarity.bruteForceTopK(
          emb.filter(col("vec_id") % 100 === 0), emb,
          "vec_id", "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("corpus_id").as("doc_id"), col("rank"))
        .localCheckpoint()
      val nQ = emb.filter(col("vec_id") % 100 === 0).count()
      assert(dense.count() == nQ * 20,
        "each rank list is exactly k rows per query")
      val fusedIn = dense.count() * 2 // two lists of identical shape
      val fused = ops.Retrieval.rrfFuse(Seq(dense, dense), "query_id",
        "doc_id", "rank", k = 10)
      assert(fused.count() == nQ * 10)
      println(s"RRF_SHAPE queries=$nQ fusionInputRows=$fusedIn " +
        s"fusedRows=${nQ * 10} (corpus rows never enter the fusion)")
    }

    // -------- third wave: KMV / CMS state bounds, unigram vocab
    // dimension, kNN-graph candidate space
    locally {
      // KMV/CMS: sketch state must be MODEL-sized — flat across the
      // 10× corpus step (that is the whole point of a sketch ledger)
      val k = 64
      val states = Seq("sf0.01", "sf0.1").map { sf =>
        val li = spark.read.parquet(s"/root/testdata/$sf/lineitem.parquet")
        val kmvRows = ops.ThetaSketch.sketch(li, Seq("l_returnflag"),
          col("l_partkey"), k)
          .select(size(col("kmv")).as("n")).agg(sum("n")).collect()(0).getLong(0)
        val cmsRows = ops.CmSketch.sketch(li, Seq("l_returnflag"),
          col("l_suppkey")).count()
        (sf, li.count(), kmvRows, cmsRows)
      }
      states.foreach { case (sf, n, kmvRows, cmsRows) =>
        assert(kmvRows <= 3L * k, s"$sf: KMV state $kmvRows > 3 groups × k")
        assert(cmsRows <= 3L * ops.CmSketch.DefaultDepth *
          ops.CmSketch.DefaultWidth,
          s"$sf: CMS grid $cmsRows exceeds 3 groups × d·w")
        println(s"SKETCH_STATE $sf corpusRows=$n kmvStateRows=$kmvRows " +
          s"cmsGridRows=$cmsRows")
      }
      assert(states(0)._3 == states(1)._3,
        "KMV state must be exactly flat across the 10× (k per full group)")
    }

    locally {
      // Unigram: the DP runs over DISTINCT words — assert the decode
      // input is vocabulary-sized at both SFs while the corpus grows 10×
      Seq("sf0.01", "sf0.1").foreach { sf =>
        val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
        val words = docs.select(explode(split(col("text"), "\\s+")).as("w"))
          .filter(col("w") =!= "")
        val nOcc = words.count()
        val nDistinct = words.distinct().count()
        val vocab = ops.UnigramLm.train(docs, col("text"), 4, 2L, 40)
        val vRows = vocab.count()
        assert(nDistinct <= 64,
          s"$sf: decode input must be the distinct-word table ($nDistinct)")
        assert(vRows <= 40 + 64,
          s"$sf: vocabulary must be budget-bounded ($vRows)")
        println(s"UNIGRAM_DIM $sf occurrences=$nOcc distinctWords=$nDistinct " +
          s"vocabRows=$vRows (DP work scales with distinct words, not corpus)")
      }
    }

    locally {
      // kNN graph: candidate pairs == Σ_cell n·(n−1) EXACTLY (the
      // cell-blocked join admits nothing else); arcs == k·N
      val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      val idx = ops.Similarity.ivfIndexBuild(emb, "vec_id", "embedding",
        k = 8, iters = 2)
      val asg = idx.assignments.localCheckpoint()
      val cand = 2L * blockedPairs(asg, col("centroid_id"))
      val n = asg.count()
      val graph = ops.Similarity.knnGraph(asg, k = 5)
      val arcs = graph.count()
      assert(arcs == 5 * n, s"arcs $arcs != k·N ${5 * n}")
      assert(cand < n * (n - 1) / 4,
        s"cell blocking must prune the all-pairs space ($cand vs N²)")
      println(s"KNN_GRAPH nodes=$n candidatePairs=$cand " +
        s"(= Σ cell²; all-pairs would be ${n * (n - 1)}) arcs=$arcs")
    }

    locally {
      // ed-1 join: candidate pairs = Σ variant-block², never |vocab|²
      Seq("sf0.01", "sf0.1").foreach { sf =>
        val names = spark.read.parquet(s"/root/testdata/$sf/customer.parquet")
          .select(col("c_name").as("_w")).distinct()
        val n = names.count()
        val variants = names.select(col("_w"), explode(transform(
            sequence(lit(0), length(col("_w"))),
            i => when(i === 0, col("_w")).otherwise(
              concat(col("_w").substr(lit(1), i - 1),
                col("_w").substr(i + 1, length(col("_w"))))))).as("_v"))
          .distinct()
        val cand = 2L * blockedPairs(variants, col("_v"))
        val (pairs, t) = timed {
          ops.ApproxDedup.editDistance1Pairs(names, "_w").count()
        }
        assert(cand < n * (n - 1) / 10,
          s"$sf: variant blocking must prune the all-pairs space " +
            s"($cand vs ${n * (n - 1)})")
        println(f"EDJOIN $sf names=$n candidates=$cand " +
          f"(all-pairs ${n * (n - 1)}) pairs=$pairs t=$t%.2f s")
      }
    }

    locally {
      // kNN-graph refresh: recompute rows = k·|touched-cell members|,
      // ledger rows pass through for every untouched cell
      val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      val k = 3
      val idx = ops.Similarity.ivfIndexBuild(
        emb.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
        k = 8, iters = 2)
      val oldAsg = idx.assignments.localCheckpoint()
      val ledger = ops.Similarity.knnGraph(oldAsg, k).localCheckpoint()
      val batch = ops.Similarity.ivfAssign(
        emb.filter(col("vec_id") % 10 === 0),
        idx.centroids.select(col("centroid_id"),
          col("centv").as("embedding")),
        "vec_id", "centroid_id", "embedding").localCheckpoint()
      val touched = batch.select("centroid_id").distinct()
        .collect().map(_.getLong(0)).toSet
      val touchedMembers = oldAsg
        .filter(col("centroid_id").isin(touched.toSeq: _*)).count() +
        batch.count()
      val (refreshed, t) = timed {
        ops.Similarity.knnGraphRefresh(oldAsg, ledger, batch, k).count()
      }
      val untouchedLedger = ledger.join(
        oldAsg.filter(!col("centroid_id").isin(touched.toSeq: _*))
          .select(col("corpus_id").as("src_id")), Seq("src_id")).count()
      assert(refreshed == k * touchedMembers + untouchedLedger,
        s"refresh rows $refreshed != k·touched ${k * touchedMembers} + " +
          s"ledger pass-through $untouchedLedger")
      println(f"KNN_REFRESH touchedCells=${touched.size}/8 " +
        f"touchedMembers=$touchedMembers ledgerRows=$untouchedLedger " +
        f"t=$t%.2f s (recompute scales with touched cells only)")
    }

    // -------- fourth wave: MVCC store CDC pruning, vacuum metadata-only,
    // view-refresh delta boundedness, RP shuffle-freedom, PMI linearity
    locally {
      // CDC reads ONLY buckets commits in the range touched, and the
      // incremental view refresh reads NOTHING beyond the CDC's files
      val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        .select(col("l_orderkey").as("k1"), col("l_linenumber").as("k2"),
          col("l_returnflag").as("g"),
          floor(col("l_extendedprice")).cast("bigint").as("v"))
        .groupBy("k1", "k2").agg(max("g").as("g"), max("v").as("v"))
      val root = java.nio.file.Files.createTempDirectory("probe_vstore")
        .toString + "/store"
      sinks.VersionedStore.upsert(li, Seq("k1", "k2"), root, nBuckets = 64)
      // epoch 2: a SMALL batch — touches few of the 64 buckets
      sinks.VersionedStore.upsert(
        li.filter(col("k1") % 60000 === 0).withColumn("v", col("v") + 1L),
        Seq("k1", "k2"), root)
      val touched = sinks.VersionedStore.commits(root)
        .find(_.epoch == 2L).get.buckets.toSet
      assert(touched.size < 32,
        s"fixture batch must touch a minority of buckets: ${touched.size}/64")
      val cdc = sinks.VersionedStore.changelog(spark, root, 1, 2,
        images = true).localCheckpoint()
      val cdcBuckets = sinks.VersionedStore.changelog(spark, root, 1, 2)
        .inputFiles.flatMap(_.split("/").find(_.matches("^b\\d{5}$")))
        .map(_.drop(1).toInt).toSet
      assert(cdcBuckets.subsetOf(touched),
        s"CDC read untouched buckets: ${cdcBuckets -- touched}")
      val nCdc = cdc.count()
      val view1 = ops.MaterializedView.sumView(
        sinks.VersionedStore.readAsOf(spark, root, 1), Seq("g"), col("v"))
        .localCheckpoint()
      val refreshed = ops.MaterializedView.refreshSum(view1, cdc, Seq("g"), "v")
      val refreshFiles = refreshed.inputFiles
        .flatMap(_.split("/").find(_.matches("^b\\d{5}$"))).toSet
      assert(refreshFiles.isEmpty,
        s"view refresh must read view+CDC only, touched store buckets: " +
          s"$refreshFiles")
      // vacuum is metadata-only: ZERO Spark jobs
      val (rep, vacuumCost) =
        Meter.measure(spark)(sinks.VersionedStore.vacuum(root, retainAsOf = 2L))
      assert(vacuumCost.jobs.isEmpty, s"vacuum ran ${vacuumCost.jobs.size} Spark jobs")
      println(s"VSTORE_CDC buckets=64 epoch2Touched=${touched.size} " +
        s"cdcRows=$nCdc cdcBucketsRead=${cdcBuckets.size} " +
        s"vacuumJobs=0 vacuumDeleted=${rep.deletedGens} " +
        s"(CDC and refresh cost scale with CHANGE volume, not store size)")
    }

    locally {
      // RP compression: shuffle-free at both SFs; PMI pair sites grow
      // LINEARLY with tokens (window-bounded), never quadratically;
      // Zipf/Heaps outputs stay vocab-/spine-sized
      val stats = Seq("sf0.01", "sf0.1").map { sf =>
        val emb = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
        val sig = ops.RandomProjection.signatures(emb, "vec_id", "embedding",
          32, 64)
        assert(!sig.queryExecution.executedPlan.toString.contains("Exchange"),
          s"$sf: RP compression must be shuffle-free")
        val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
        val nTok = docs.select(explode(split(col("text"), "\\s+"))).count()
        val nPairs = ops.CorpusStats.windowPairs(docs, col("text"), 2).count()
        assert(nPairs <= 2L * nTok,
          s"$sf: pair sites $nPairs exceed window·tokens ${2L * nTok}")
        val vocab = ops.CorpusStats.zipf(docs, col("text")).count()
        (sf, nTok, nPairs, vocab)
      }
      val Seq((_, t1, p1, v1), (_, t2, p2, v2)) = stats
      val e = math.log(p2.toDouble / p1) / math.log(t2.toDouble / t1)
      stats.foreach { case (sf, t, p, v) =>
        println(s"CORPUS_STATS $sf tokens=$t pairSites=$p vocab=$v") }
      assert(e <= 1.05,
        s"PMI pair sites must be linear in tokens (exponent $e)")
      assert(v1 == v2,
        "Zipf output is vocab-sized — flat across the 10× corpus step")
      println(f"EXPONENT q195_pmi: sites $p1 -> $p2 over tokens " +
        f"$t1 -> $t2, exponent = $e%.2f (window-bounded, linear)")
    }

    // -------- fifth wave: point lookup opens ONLY key buckets; an
    // additive schema evolution is metadata + the batch's own buckets
    locally {
      val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        .select(col("l_orderkey").as("k1"), col("l_linenumber").as("k2"),
          floor(col("l_extendedprice")).cast("bigint").as("v"))
        .groupBy("k1", "k2").agg(max("v").as("v"))
      val root = java.nio.file.Files.createTempDirectory("probe_vstore5")
        .toString + "/store"
      sinks.VersionedStore.upsert(li, Seq("k1", "k2"), root, nBuckets = 64)
      val n1 = li.count()
      val keys = li.limit(5).select("k1", "k2").localCheckpoint()
      val probe = sinks.VersionedStore.lookup(spark, root, keys)
      val lkBuckets = probe.inputFiles
        .flatMap(_.split("/").find(_.matches("^b\\d{5}$"))).toSet
      assert(lkBuckets.size <= 5,
        s"lookup opened ${lkBuckets.size}/64 buckets for 5 keys")
      assert(probe.count() == 5)
      // evolution epoch: new column lands as one schema marker plus
      // generations ONLY for the batch's buckets — history untouched
      val evoBatch = li.filter(col("k1") % 60000 === 0)
        .withColumn("flag", lit("late")).localCheckpoint()
      val nEvo = evoBatch.count()
      sinks.VersionedStore.upsert(evoBatch, Seq("k1", "k2"), root,
        evolve = true)
      val touched = sinks.VersionedStore.commits(root)
        .find(_.epoch == 2L).get.buckets.toSet
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val gen2Dirs = fs.globStatus(
        new org.apache.hadoop.fs.Path(root, "b*/g0000002")).length
      assert(gen2Dirs == touched.size, s"evolution rewrote $gen2Dirs " +
        s"generations for ${touched.size} touched buckets")
      val schemaMarkers = fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .map(_.getPath.getName).count(_.matches("^_schema-\\d{7}$"))
      assert(schemaMarkers == 1,
        s"one evolution must write one marker, got $schemaMarkers")
      assert(sinks.VersionedStore.readAsOf(spark, root, 1)
        .columns.toSeq == Seq("k1", "k2", "v"),
        "pre-evolution snapshot must keep the old shape")
      val carriedNulls = sinks.VersionedStore.read(spark, root)
        .filter(col("flag").isNull).count()
      assert(carriedNulls == n1 - nEvo,
        s"carried-forward rows must read null: $carriedNulls vs ${n1 - nEvo}")
      println(s"VSTORE_LOOKUP_EVO buckets=64 lookupBucketsOpened=" +
        s"${lkBuckets.size} evoTouched=${touched.size} gen2Dirs=$gen2Dirs " +
        s"schemaMarkers=$schemaMarkers (point gets open key buckets only; " +
        "adding a column rewrites nothing beyond the batch)")
    }

    // -------- sixth wave: merge-on-read kills copy-on-write
    // amplification — a small CDC batch commits ≈ its own bytes as
    // delta generations (COW would rewrite every touched bucket in
    // full); reads resolve base ⊕ deltas exactly; compaction restores
    // the plain single-generation serving shape
    locally {
      val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        .select(col("l_orderkey").as("k1"), col("l_linenumber").as("k2"),
          floor(col("l_extendedprice")).cast("bigint").as("v"))
        .groupBy("k1", "k2").agg(max("v").as("v"))
        .withColumn("g", pmod(col("k1"), lit(97)))
      val root = java.nio.file.Files.createTempDirectory("probe_vstore6")
        .toString + "/store"
      sinks.VersionedStore.upsert(li, Seq("k1", "k2"), root, nBuckets = 64)
      val n1 = li.count()
      val batch = li.filter(col("k1") % 60000 === 0)
        .withColumn("v", col("v") + 1L).withColumn("op", lit("upsert"))
        .localCheckpoint()
      val nBatch = batch.count()
      sinks.VersionedStore.deltaApply(batch, Seq("k1", "k2"), root, "op")
      val touched = sinks.VersionedStore.commits(root)
        .find(_.epoch == 2L).get.buckets
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      def genBytes(b: Int, g: Long): Long = {
        val p = new org.apache.hadoop.fs.Path(root, f"b$b%05d/g$g%07d")
        if (!fs.exists(p)) 0L
        else fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
          .map(_.getLen).sum
      }
      val deltaBytes = touched.map(genBytes(_, 2L)).sum
      val baseBytes = touched.map(genBytes(_, 1L)).sum
      // THE amplification assertion: the delta epoch's bytes are a
      // small fraction of what COW would have rewritten (the same
      // buckets' full base generations) — at 100 TB with a hot-key
      // stream this ratio IS the difference between O(batch) and
      // O(bucket) per micro-batch
      assert(deltaBytes * 10 < baseBytes,
        s"delta epoch wrote $deltaBytes B vs $baseBytes B bucket rewrite")
      // read-side twin of the amplification kill (round-13): resolving
      // the chain must not hash-shuffle the touched buckets' base
      // generations — shuffle volume during a full chain-resolved read
      // is bounded by the DELTA rows (their window + broadcast-key
      // build), never the base
      val (nRead, readCost) =
        Meter.measure(spark)(sinks.VersionedStore.read(spark, root).count())
      val chainShuffleB = readCost.shuffleBytes
      assert(nRead == n1, "chain-resolved read must keep the exact row count")
      assert(chainShuffleB < baseBytes / 10,
        s"chain read shuffled $chainShuffleB B against " +
          s"$baseBytes B of touched base — base must stream shuffle-free")
      println(s"VSTORE_MOR_READ shuffleBytes=$chainShuffleB " +
        s"touchedBaseBytes=$baseBytes (chain resolution streams the base " +
        "map-side; only delta rows move)")
      val ce = sinks.VersionedStore.compact(spark, root)
      val gens = sinks.VersionedStore.read(spark, root).inputFiles
        .flatMap(_.split("/").find(_.matches("^g\\d{7}$"))).toSet
      assert(!gens.contains("g0000002") && gens.contains("g0000003"),
        s"compaction must retire the delta chain from serving: $gens")
      assert(sinks.VersionedStore.readAsOf(spark, root, ce).count() == n1,
        "compaction is a content no-op")
      println(f"VSTORE_MOR buckets=64 batchRows=$nBatch " +
        f"touched=${touched.size} deltaBytes=$deltaBytes " +
        f"cowRewriteBytes=$baseBytes " +
        f"amplificationAvoided=${baseBytes.toDouble / math.max(1L, deltaBytes)}%.0fx " +
        "(delta commit = batch bytes; compact restores plain serving)")

      // the view FOLLOWER's per-epoch write is O(changed groups): the
      // 10-row delta batch touches ≤ 10 of the 97 groups, so the view
      // store's own CDC across that fold is bounded by the batch's
      // group set — never a view rewrite (97 rows would already be 5x
      // the bound here; at 100 TB the view is millions of groups and
      // the batch still bounds the write)
      val viewRoot = root + "_view"
      val follower = graft.streaming.ViewStream(Seq("g"), "v", "sum")
      follower.catchUp(spark, root, viewRoot)
      val viewEpochs = sinks.VersionedStore.currentEpoch(viewRoot)
      assert(viewEpochs == 2L, // bootstrap@1 + one fold@2; compact is a no-op
        s"follower must commit one view epoch per moving source epoch: $viewEpochs")
      val batchGroups = batch.select("g").distinct().count()
      val viewCdc = sinks.VersionedStore
        .changelog(spark, viewRoot, 1L, 2L).count()
      assert(viewCdc <= 2L * batchGroups,
        s"view fold must write O(changed groups): $viewCdc vs $batchGroups")
      assert(sinks.VersionedStore.read(spark, viewRoot).count() == 97L)
      println(s"VSTORE_VIEW groups=97 batchGroups=$batchGroups " +
        s"viewCdcRows=$viewCdc (follower writes scale with the batch's " +
        "group set, not the view)")
    }

    println("PROBE_OK")
    spark.stop()
  }
}
