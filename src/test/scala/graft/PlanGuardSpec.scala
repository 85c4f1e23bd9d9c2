package graft

/** Suite-wide plan regression guard. `Profile` prints per-query detail
  * for humans; this spec makes the join-shape invariants failing
  * tests, so a future operator that silently falls back to a quadratic
  * join cannot land green.
  *
  *  - CartesianProduct: forbidden everywhere, no exceptions.
  *  - BroadcastNestedLoopJoin: legitimate ONLY when the broadcast side
  *    is small BY CONTRACT (an ANN query set, a 1-row corpus total) —
  *    those queries carry a per-query BUDGET of expected BNLJ
  *    occurrences, so a regression elsewhere in an allowlisted query's
  *    plan still fails (the whole plan is never exempt). Any new BNLJ
  *    must be consciously budgeted here or the suite fails.
  *
  * Plans are BUILT (analyzed + planned on the sf0.001 tables), not
  * executed — a few queries run bounded driver-side training jobs
  * (k-means, sketches) at construction, which is their documented
  * contract. Exception: the write-path queries (q106 streaming funnel,
  * q107 zWrite round-trip) EXECUTE their internal job at construction
  * and return only a post-materialization frame, so the sweep sees just
  * that tail — their internal plans (batch-mode stagesStream, zLayout)
  * get their own explicit join-shape assertions below. */
class PlanGuardSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** name -> max BroadcastNestedLoopJoin occurrences: each budget is
    * the number of by-contract-small broadcast sides in that query. */
  private val bnljBudget = Map(
    "q24_cosine_topk" -> 1,    // broadcast(queries) =!= self-match filter
    "q161_hybrid_rrf" -> 1,    // dense list = q24's brute scan, same broadcast(queries)
    "q25_ivf_topk" -> 2,       // 2× ivfAssign crossJoin(broadcast(k·d centroids))
    "q57_quantized_topk" -> 1, // broadcast(quantized queries)
    "q78_ivf_multiprobe" -> 2, // corpus assign + query probe, both ×broadcast(cents)
    "q94_ann_recall" -> 4,     // IVF's 2 assigns + brute's broadcast(queries) + recall join
    "q62_tfidf_terms" -> 1,    // crossJoin(broadcast(1-row corpus count))
    "q96_decayed_sums" -> 1,   // crossJoin(broadcast(1-row max timestamp))
    "q100_corpus_report" -> 2,  // crossJoin(broadcast(two 1-row aggregates))
    "q105_user_similarity" -> 1, // brute-force's broadcast(5-user query set)
    "q118_temperature_mix" -> 1, // crossJoin(broadcast(1-row weight total))
    "q122_ivf_refresh" -> 2,   // refresh assign + query probe, both ×broadcast(cents)
    // drift gate: batch assign ×broadcast(cents), serve probe
    // ×broadcast(cents), brute exact's broadcast(sampled probes) with
    // its non-equi self-match filter, shift ×broadcast(1-row totals),
    // final shift ×broadcast(1-row recall) — every broadcast side is
    // k-row or 1-row BY CONTRACT
    "q124_ivf_drift" -> 7,
    // combined-index serves: the probe ranking's crossJoin(broadcast(
    // k·d centroids)) appears TWICE — once in the join proper and once
    // duplicated into the dynamic-partition-pruning subquery on the
    // cell-partitioned codes scan (the DPP instance is the design
    // working: cell filter == partition pruning, IvfPqSpec/round-9
    // plan probe). Both broadcast sides are k-row by contract.
    "q126_ivfpq_serve" -> 2,
    "q130_ivfpq_rerank" -> 2,
    // IVF-PQ drift gate: q124's shape on the combined index — batch
    // assign ×broadcast(cents), ADC serve's probe ranking
    // ×broadcast(cents) (plus its DPP duplicate on the cell-partitioned
    // codes scan, as in q126), brute exact's broadcast(sampled probes)
    // with its non-equi self-match filter, shift ×broadcast(1-row
    // totals), final ×broadcast(1-row recall) — every broadcast side
    // is k-row or 1-row BY CONTRACT
    "q134_ivfpq_drift" -> 7,
    // probe-table synthesis: crossJoin(broadcast(8-row key spine)) ×
    // the 3-row distinct-flag side — both sides constant-sized BY
    // CONSTRUCTION (the CMS grid itself joins hash-partitioned)
    "q173_cms_estimate" -> 1,
    // pair-domain replication: two non-equi joins of the G·k sketch
    // rows × broadcast(G-row group list) — both sides ledger/model
    // sized by contract, never a corpus
    "q180_kmv_matrix" -> 2,
    // depth-spine synthesis: crossJoin(G-row group list ×
    // depth-row range) — both sides constant-sized
    "q183_cms_skew" -> 1,
    // EM rescore: crossJoin(broadcast(1-row usage total)) — the
    // q62/q118 shape (q174 collects its vocab before returning, so
    // the same crossJoin never reaches ITS final plan)
    "q181_unigram_em" -> 1,
    // incremental graph refresh: the batch ivfAssign's crossJoin(
    // broadcast(k·d centroids)) sub-plan is REPLICATED by the refresh
    // composition — into `touched` (used in the leftsemi and the
    // left_anti), into both sides of the recompute's within-cell
    // self-join, and into their DPP duplicates. Every instance is the
    // same k-row centroid broadcast BY CONTRACT (the q124/q134 family)
    "q188_knn_refresh" -> 7,
    // compressed-domain serve: hammingTopK's broadcast(query sigs)
    // with its non-equi self-match filter (1), plus bruteForceTopK's
    // broadcast(queries) — duplicated because recallAtK consumes the
    // exact side twice (hits + k_exact), the q94 shape
    "q194_rp_recall" -> 3,
    // PMI totals: crossJoin(broadcast(1-row T)) × (1-row P) — the
    // q62/q118 1-row-aggregate shape
    "q195_pmi_pairs" -> 2,
    // KL totals: crossJoin(broadcast(1-row corpus token total))
    "q204_source_divergence" -> 1,
    // ledger-refresh PMI scores through the same two 1-row totals
    "q205_pmi_refresh" -> 2)

  test("no CartesianProduct anywhere; BNLJ within per-query budgets") {
    val offenders = Queries.all.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      val cart = plan.contains("CartesianProduct")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
      val budget = bnljBudget.getOrElse(name, 0)
      if (cart) Some(s"$name: CartesianProduct")
      else if (bnlj > budget)
        Some(s"$name: $bnlj BroadcastNestedLoopJoin (budget $budget)")
      else None
    }
    assert(offenders.isEmpty, s"quadratic join shapes:\n${offenders.mkString("\n")}")
  }

  test("q106/q107 internal jobs carry no quadratic join shapes") {
    import org.apache.spark.sql.functions._
    // what q106 executes per micro-batch: the funnel state machine
    // (batch-mode mapGroupsWithState builds the same plan lazily)
    // schema-agnostic epoch seconds (the driver has shipped events.ts
    // both as INT64 nanos and as timestamp[us] — mirror Queries.eventSec)
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val sec = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        col("ts").cast(org.apache.spark.sql.types.TimestampType).cast("bigint")
      case _ => col("ts").cast("bigint")
    }
    val funnel = graft.ops.Funnel.stagesStream(
      ev.select(col("user_id"), sec.as("sec"), col("event_type")),
      "user_id", col("sec"), col("event_type"),
      Seq("view", "click", "purchase"))
    // what q107 executes as its write job: the Z-clustered layout
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val layout = graft.ops.Layout.zLayout(li,
      Seq(expr("l_orderkey % 1024"), expr("l_partkey % 1024")),
      bits = 10, numFiles = 16)
    for ((tag, df) <- Seq("stagesStream" -> funnel, "zLayout" -> layout)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$tag: CartesianProduct")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$tag: BNLJ")
    }
  }
}
