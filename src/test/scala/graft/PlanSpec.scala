package graft

import graft.queries.Registry

/** Physical-plan quality gates — the 100 TB contract, asserted rather than
  * eyeballed. A query that silently regresses to a cartesian product, loses
  * scan pushdown, or drops partial aggregation would still pass the oracle
  * at sf0.01 but melt at scale; these tests pin the plan shape.
  *
  * Streaming catalog entries are excluded: their `run` executes the stream
  * eagerly and returns the sink table, so there is no batch plan to inspect
  * (their state/shuffle shape is covered by StreamingSpec). */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val q = Registry.all.find(_.name == name).get
    q.run(spark, sf).queryExecution.sparkPlan.toString
  }

  // ops whose semantics genuinely need a non-equi join (theta/range,
  // subqueries) or are deliberately all-pairs against a broadcast-sized
  // side (brute-force similarity baselines, IVF centroid assignment):
  // broadcast nested loop is the intended plan there
  private val nonEquiByDesign = Set(
    "q_join_theta", "q_join_range", "q_scalar_subquery", "q_exists_subquery",
    "q_sim_cosine_pairs", "q_sim_topk", "q_sim_topk_fast", "q_sim_ivf_ann",
    "q_sim_ivf_incremental", // query-side probe ranking vs k≤16 broadcast centroids
    "q_sim_ivf_merge", // same probe ranking, over base+delta segments
    "q_sim_pq_search", // 8-row broadcast LUT vs corpus codes: non-equi by design
    "q_sim_ivfpq", // centroid assignment + broadcast probe rows (IVF shape)
    "q_dedup_embedding", // pair stage = q_sim_cosine_pairs' all-pairs scan
    "q_ts_gapfill", // dimension-grid generation: 30-day × 5-type broadcast cross
    "q_sample_balance", // 1-row broadcast target-count scalar attach
    "q_text_bigrams", // two 1-row broadcast corpus-total scalar attaches
    "q_text_lm_score", // 1-row broadcast vocabulary-size scalar attach
    "q_dedup_semantic", // k≤16 broadcast centroid assignment (IVF shape)
    "q_dedup_semantic_lsh", // same broadcast centroid assignment front half
    "q_embed_project", // 8 broadcast projected queries vs corpus: all-pairs by design
    "q_embed_project_ivf", // query-side probe ranking vs k≤16 broadcast centroids
    "q_text_bm25", // 1-row broadcast corpus-stats scalar attach
    "q_hybrid_rrf", // both legs: 1-row broadcast attaches (bm25 stats; query vector)
    "q_text_classify", // 1-row broadcast model-prior scalar attach
    "q_profile_drift", // 1-row broadcast snapshot-totals scalar attach
    "q_select_dsir", // 1-row broadcast corpus-total scalar attach (model build)
    "q_mix_temperature") // 1-row broadcast weight-total scalar attach (Sampling.scala temperatureQuotas)

  for (q <- Registry.all if !q.name.startsWith("q_stream_")) {
    test(s"${q.name}: no cartesian product; nested-loop only by design") {
      val p = q.run(spark, sf).queryExecution.sparkPlan.toString
      assert(!p.contains("CartesianProduct"), s"cartesian product in:\n$p")
      if (!nonEquiByDesign(q.name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"unexpected nested-loop join in:\n$p")
    }
  }

  test("codegen units stay under the recompile/JIT thresholds on the heavy queries") {
    // the round-10 bench forensic: a codegen-cache eviction forced janino
    // to RECOMPILE one oversized generated projection mid-session, billing
    // ~8 s of single-threaded CPU to q_text_bm25 (SCALE.md round-10 notes;
    // fixed by shrinking the projection). This gate catches the next
    // oversized unit at test time instead of in a bench window: for the
    // heaviest batch queries, every WholeStageCodegen unit must stay well
    // under the 64 KB janino/classfile ceiling on generated-source size,
    // and its largest compiled method under the JVM's 8000-byte
    // DontCompileHugeMethods JIT threshold (a method past it runs
    // interpreted forever — worse than a recompile).
    import org.apache.spark.sql.execution.debug._
    // heaviest warm-bench batch queries whose plans expose their codegen
    // interior (the iterative ones — pagerank, semantic — materialize
    // their loop interior behind a cache, so there is nothing to gate)
    val heavy = Seq(
      "q1_pricing_summary", "q5_local_supplier", "q_text_bm25",
      "q_embed_outliers", "q_dedup_substring",
      "q_join_large", "q_dedup_minhash_lsh", "q_text_tfidf",
      "q_sim_pq_search", "q_text_lm_score", "q_join_bucketed")
    for (name <- heavy) {
      val df = Registry.all.find(_.name == name).get.run(spark, sf)
      df.collect() // AQE only materializes codegen stages on execution
      val units = codegenStringSeq(df.queryExecution.executedPlan)
      assert(units.nonEmpty, s"$name: no codegen units found")
      for ((subtree, code, stats) <- units) {
        assert(code.length < 131072,
          s"$name: generated source ${code.length} chars approaches the " +
            s"64 KB-per-method class ceiling / cache-eviction weight class:\n" +
            subtree.linesIterator.take(5).mkString("\n"))
        assert(stats.maxMethodCodeSize < 8000,
          s"$name: compiled method of ${stats.maxMethodCodeSize} bytecode " +
            s"bytes exceeds the JIT compile threshold:\n" +
            subtree.linesIterator.take(5).mkString("\n"))
      }
    }
  }

  test("q1 pricing summary: filter pushed to parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      p.contains("PushedFilters: [LessThanOrEqual(l_shipdate"),
      s"no pushed shipdate filter in scan:\n$p")
  }

  test("q5 star join: date filter pushed to the fact scan, dims broadcast") {
    // building q_pipe_fanout's plan in the catalog loop REGISTERS its
    // persisted raw-orders upstream in the CacheManager (it only
    // unpersists via Pipeline.run, never invoked here); without clearing,
    // the q5 orders subtree is substituted by that full-width
    // InMemoryRelation and the pushdown assertion inspects the wrong scan
    spark.catalog.clearCache()
    val p = plan("q5_local_supplier")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)") ||
      p.contains("PushedFilters: [GreaterThanOrEqual(o_orderdate"),
      s"no pushed order-date filter on the orders scan:\n$p")
    // dims ride broadcasts; the one shuffle pair is the fact-fact join
    assert(p.contains("BroadcastHashJoin"), s"no broadcast dim join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join in Q5:\n$p")
  }

  test("q1 pricing summary: column-pruned scan (no full-width read)") {
    val p = plan("q1_pricing_summary")
    val read = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("l_returnflag") && !read.contains("l_comment"),
      s"scan not pruned: $read")
  }

  test("q1 pricing summary: partial+final hash aggregation, codegen on") {
    val p = plan("q1_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
    val df = Registry.all.find(_.name == "q1_pricing_summary").get
      .run(spark, sf)
    df.collect() // execute THIS plan (count() would plan separately), so AQE finalizes it
    val executed = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n) Op" in the simple plan string
    assert(executed.contains("*(1)"), s"codegen absent:\n$executed")
  }

  test("dimension join broadcasts the small side") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("top-k aggregator runs partial+final (k-bounded map-side combine)") {
    val p = plan("q_udaf_topk")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final object aggregate:\n$p")
  }

  test("as-of join stays a window over one shuffle, not a join") {
    val p = plan("q_join_asof")
    assert(!p.contains("Join"), s"as-of should be union+window, got:\n$p")
    assert(p.contains("Window"), s"expected window operator:\n$p")
  }

  test("stratified sample: pruned scan, no shuffle added by sampling") {
    val p = plan("q_sample_stratified")
    val read = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("doc_id") && read.contains("lang")
      && read.contains("n_chars") && !read.contains("text"),
      s"scan not pruned to the 3 needed columns: $read")
    // one exchange for the groupBy, none for the sample filter itself
    assert("Exchange".r.findAllIn(p).size <= 2, s"extra shuffles:\n$p")
  }

  test("decontamination is a broadcast left-semi — training side never shuffles") {
    val p = plan("q_text_decontaminate")
    assert(p.contains("LeftSemi"), s"expected left-semi join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"eval gram set must broadcast, not shuffle the corpus:\n$p")
  }

  test("embed outliers: corpus-wide prefilter scan carries no interpreted HOF") {
    val p = plan("q_embed_outliers")
    // phase 1 (the line computing graft_cosine against the broadcast
    // centroid) must be pure codegen; the decimal lambda towers may only
    // appear in phase 2, after the per-group candidate cut
    val prefilter = p.linesIterator
      .filter(_.contains("graft_cosine")).mkString("\n")
    assert(prefilter.nonEmpty, s"codegen cosine prefilter absent:\n$p")
    assert(!prefilter.contains("lambdafunction"),
      s"interpreted HOF on the full-scan path:\n$prefilter")
  }

  test("IVF centroid assignment is a map-side argmax, not a per-vector window") {
    val p = plan("q_sim_ivf_ann")
    // the argmax-by-struct formulation collapses the k candidate rows per
    // vector in the partial aggregate; a window PARTITIONED BY vec_id
    // would mean every (vector × centroid) row — embedding aboard — rides
    // the shuffle. The q_id-partitioned windows (query-side probe/top-k
    // ranking over the 8 broadcast queries) are fine and expected.
    assert(!p.contains("windowspecdefinition(vec_id"),
      s"per-vector window assignment regressed:\n$p")
  }

  test("chunking shuffles only for the rollup and the final sort") {
    val p = plan("q_text_chunk")
    // per-row sequence+explode chunking must add NO exchange of its own:
    // one hash exchange for the per-source aggregate, one range exchange
    // for the ORDER BY — anything more means chunk rows (n_chunks ≫ docs)
    // started riding a shuffle
    assert("Exchange".r.findAllIn(p).size <= 2, s"extra shuffles:\n$p")
  }

  test("histogram is one partial+final aggregate over the scan") {
    val p = plan("q_fn_histogram")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2, s"extra shuffles:\n$p")
  }

  test("ANN embedding dedup pair stage is a banded equi-join, never all-pairs") {
    // the structural point of q_dedup_embedding_ann (vs q_dedup_embedding's
    // deliberate n² baseline): candidates come from the native bucket
    // expression + an equi-join on (band, key) — the plan must carry the
    // codegen bucket and no nested-loop/cartesian anywhere
    import org.apache.spark.sql.functions.col
    val p = queries.Similarity.annNearDupPairs(
      Tables(spark, sf).embeddings.select(col("vec_id"), col("embedding")), 0.4)
      .queryExecution.sparkPlan.toString
    assert(p.contains("graft_lsh_bucket"), s"native bucket expr absent:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in the ANN path:\n$p")
  }

  test("media dedup pair stage is a banded equi-join with the cosine fused in") {
    // the payload-dedup analog of the ANN gate: candidates must come from
    // an equi-join on (band, key) with the codegen cosine verify inside
    // the join condition — no nested loop, no post-join cosine pass over
    // materialized candidate rows
    import org.apache.spark.sql.functions.col
    val feats = graft.multimodal.Media.extractFeatures(
      graft.multimodal.Media.mediaTable(spark, sf)).toDF()
      .select(col("media_id"), col("feature"))
    val p = queries.MediaQueries.mediaDedupPairs(feats)
      .queryExecution.sparkPlan.toString
    assert(p.contains("graft_cosine"), s"codegen cosine verify absent:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in the media dedup path:\n$p")
  }

  test("media pHash pair stage is a banded equi-join with the Hamming verify fused in") {
    // the round-13 image leg: candidates come from an equi-join on the
    // hash-band value with bit_count(xor) ≤ 6 inside the join condition
    // — same no-all-pairs discipline as the histogram and ANN gates
    val ph = graft.multimodal.Media.imagePhashes(
      graft.multimodal.Media.mediaTable(spark, sf))
    val p = queries.MediaQueries.phashDedupPairs(ph)
      .queryExecution.sparkPlan.toString
    assert(p.contains("bit_count"), s"Hamming verify absent:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in the pHash dedup path:\n$p")
  }

  test("JPEG query decodes the staged containers, never re-encodes the corpus") {
    // decode-once discipline for the lossy slice: the steady-state plan
    // scans graft_jpeg_media/containers (query-time JPEG decode is the
    // operator under test); the synthetic corpus's PPM derivation — a
    // documents scan — must not appear per execution
    val q = Registry.all.find(_.name == "q_media_jpeg").get
    val p = q.run(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("graft_jpeg_media"),
      s"q_media_jpeg does not read the staged JPEG containers:\n${p.take(4000)}")
    assert(!p.contains("documents.parquet"),
      s"q_media_jpeg re-derives the corpus per execution:\n${p.take(4000)}")
  }

  test("IVF merge: delta build assigns against the frozen quantizer, no retrain, no base rescan") {
    // the nightly-merge contract: the merge plan reads centroids off the
    // persisted base index (graft_ivf_base_index), contains no centroid
    // TRAINING aggregate, and scans embeddings exactly once — the batch
    // construction; the base corpus and the base inverted lists appear
    // nowhere (the delta is a new segment, not a rewrite)
    val p = queries.Similarity.ivfMergeAssignments(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_ivf_base_index"),
      s"frozen quantizer not read from the base index:\n${p.take(4000)}")
    assert(!p.toLowerCase.contains("vectorcentroid"),
      s"centroid TRAINING aggregate in the merge plan:\n${p.take(4000)}")
    val scans = "embeddings\\.parquet".r.findAllIn(p).length
    assert(scans == 1,
      s"expected exactly 1 embeddings scan (the batch), found $scans:\n${p.take(4000)}")
    assert(!p.contains("/lists"),
      s"base inverted lists rescanned during merge:\n${p.take(4000)}")
  }

  test("IVF merge: query plan reads base index + delta, never retrains") {
    val q = Registry.all.find(_.name == "q_sim_ivf_merge").get
    val p = q.run(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("graft_ivf_base_index") &&
      p.contains("graft_ivf_merge_delta"),
      s"merged-index segments absent from the query plan:\n${p.take(4000)}")
    assert(!p.toLowerCase.contains("vectorcentroid"),
      s"centroid TRAINING aggregate in the merged-query plan:\n${p.take(4000)}")
  }

  test("ANN readouts: bounded-heap top-k — no rank window over the scored candidate mass") {
    // the round-18 q_embed_project discipline, catalog-wide since round
    // 20: the ONLY window an ANN read plan may carry is the 8×k≤16
    // probe ranking (ivfProbes). A row_number window over the scored
    // candidates funnels ~corpus/8 rows into EIGHT partitions
    // (parallelism = query count) and TimSorts corpus-sized groups —
    // the named 100× scale-killer the bounded-heap TopKAgg replaces.
    for (name <- Seq("q_sim_ivf_ann", "q_sim_ivfpq", "q_sim_ivf_incremental",
        "q_sim_ivf_merge", "q_sim_pq_search")) {
      val p0 = plan(name)
      // AQE toString renders the plan twice (== Final Plan == then
      // == Initial Plan ==); count operators in the final section only
      val p = p0.split("== Initial Plan ==").head
      val windows = "Window \\[".r.findAllIn(p).size
      val cap = if (name == "q_sim_pq_search") 0 else 1 // probe ranking only
      assert(windows <= cap,
        s"$name: $windows Window ops (cap $cap) — candidate rank window " +
          s"sneaked back:\n${p.take(4000)}")
      assert(p.contains("TopKAgg"),
        s"$name: bounded-heap top-k aggregate absent:\n${p.take(4000)}")
    }
  }

  test("projected-IVF retrieval: scores the 8-dim sidecar, never retrains, never scans raw lists") {
    // the composition contract: candidate scoring reads the projected
    // sidecar (<base index>.jl/plists — 8-dim rows; the path derives
    // from the base index identity since round 16), the quantizer
    // comes off the persisted index, no centroid-training aggregate runs
    // at query time, and the 64-dim base lists are never rescanned (raw
    // vectors are touched only via the embeddings table: probes + the
    // ≤40-row exact re-score)
    val q = Registry.all.find(_.name == "q_embed_project_ivf").get
    val p = q.run(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains(".jl/plists"),
      s"projected sidecar absent from the read plan:\n${p.take(4000)}")
    assert(!p.toLowerCase.contains("vectorcentroid"),
      s"centroid TRAINING aggregate at query time:\n${p.take(4000)}")
    assert(!p.contains("/lists"),
      s"64-dim base lists rescanned by the projected path:\n${p.take(4000)}")
  }

  test("streaming IVF ingest: read plan spans base index + streamed delta, never retrains") {
    // the continuous-ingest contract mirrors the nightly merge's: the
    // query-time plan reads the frozen base index plus the delta the
    // stream appended (runAggregated's graft_stream_agg staging), with
    // no centroid TRAINING aggregate anywhere — ingest assigned against
    // frozen centroids, the read side only probes
    val q = Registry.all.find(_.name == "q_stream_ivf_ingest").get
    val p = q.run(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("graft_ivf_base_index") &&
      p.contains("graft_stream_agg"),
      s"base index + streamed delta absent from the read plan:\n${p.take(4000)}")
    assert(!p.toLowerCase.contains("vectorcentroid"),
      s"centroid TRAINING aggregate in the ingest read plan:\n${p.take(4000)}")
  }

  test("dedup index merge: delta build probes the persisted index, one documents scan") {
    val p = queries.Dedup.dedupMergeDelta(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_dedup_base_index"),
      s"persisted fp index absent from the merge plan:\n${p.take(4000)}")
    val scans = "documents\\.parquet".r.findAllIn(p).length
    assert(scans == 1,
      s"expected exactly 1 documents scan (the batch), found $scans:\n${p.take(4000)}")
    // exact-fingerprint merge: no shingle/minhash machinery anywhere
    assert(!p.contains("graft_shingle") && !p.contains("graft_minhash"),
      s"fuzzy machinery in the exact index merge:\n${p.take(4000)}")
  }

  test("dedup index merge: query plan reads base index + delta segments") {
    val q = Registry.all.find(_.name == "q_dedup_index_merge").get
    val p = q.run(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("graft_dedup_base_index") &&
      p.contains("graft_dedup_merged_index"),
      s"merged-index segments absent from the query plan:\n${p.take(4000)}")
    assert(!p.contains("SortMergeJoin"),
      s"non-broadcast join in the day-3 admission plan:\n${p.take(4000)}")
  }

  test("incremental IVF ANN: day-2 plan reads the persisted index, never retrains") {
    // the nightly-index contract, vector-search edition: centroids and
    // inverted lists come off disk; no Lloyd step (the fixed-point
    // centroid aggregate) and no corpus-wide assignment may appear in
    // the query-time plan — SimilaritySpec separately pins the answer
    // equal to the from-scratch q_sim_ivf_ann, so a silent retrain
    // would have nowhere to hide
    val q = Registry.all.find(_.name == "q_sim_ivf_incremental").get
    val p = q.run(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("graft_ivf_index"),
      s"persisted IVF index absent from the day-2 plan:\n${p.take(4000)}")
    assert(!p.toLowerCase.contains("vectorcentroid"),
      s"centroid TRAINING aggregate in the day-2 plan:\n${p.take(4000)}")
  }

  test("classifier inference reads the staged model, never retrains") {
    // the model-registry contract (the IVF-index gate, model edition):
    // weights and prior come off the staged parquet; the training ln —
    // the only LOG in the whole family — must not appear anywhere in
    // the inference plan. ClassifySpec separately pins staged ≡ fresh
    // retrain, so a silent in-plan retrain would have nowhere to hide.
    val q = Registry.all.find(_.name == "q_text_classify").get
    val p = q.run(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("graft_nb_model"),
      s"staged model absent from the inference plan:\n${p.take(4000)}")
    assert(!p.contains("LOG("),
      s"training log-odds computation in the inference plan:\n${p.take(4000)}")
  }

  test("media features read the staged codec table, never re-encode") {
    // codecMediaTable is write-once (media at rest IS the encoded
    // container): the steady-state plan scans the staged parquet —
    // decode is the operator under test, the synthetic corpus's
    // re-encode is not allowed back on the per-execution path.
    // (q_media_dedup shares the same table builder but its returned
    // plan sits above the connected-components fixpoint's checkpoints,
    // so the scan is structurally invisible there.)
    val q = Registry.all.find(_.name == "q_media_features").get
    val p = q.run(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("graft_codec_media"),
      s"q_media_features does not read the staged codec table:\n${p.take(4000)}")
  }

  test("vocab ranking window is partitioned by count, never the whole vocabulary") {
    // the distributed dense-rank: the only row_number over the token table
    // must be PARTITIONED BY the frequency value; an unpartitioned window
    // there would funnel the entire 100 TB vocabulary through one task
    // (the tiny histogram prefix-sum window is the deliberate exception)
    val p = plan("q_text_vocab")
    val ranks = p.linesIterator.filter(_.contains("row_number()")).mkString("\n")
    assert(ranks.nonEmpty, s"no ranking window found:\n$p")
    assert(ranks.contains("windowspecdefinition(n#"),
      s"token ranking window is not partitioned by count:\n$ranks")
  }

  test("token-budget mixing windows are shard-partitioned, never per-language whales") {
    // the corpus-wide running sum must be partitioned by (lang, shard) —
    // a window partitioned by lang alone would funnel each language's
    // entire 100 TB slice through one task; only the 64-row histogram
    // prefix may ride a lang-partitioned window
    val p = plan("q_mix_token_budget")
    // the doc-level running sum is the window whose ORDER BY carries `ord`
    // — require ITS partition spec to include the shard column (the
    // histogram-prefix window also mentions shard, so a bare substring
    // match would stay green through exactly the regression this guards)
    val docWins = p.linesIterator
      .filter(_.contains("windowspecdefinition"))
      .filter(_.contains("ord#")).toSeq
    assert(docWins.nonEmpty, s"no ord-ordered running-sum window:\n$p")
    assert(docWins.forall(w =>
      "windowspecdefinition\\([^)]*shard#\\d+[^)]*, ord#"
        .r.findFirstIn(w).isDefined),
      s"doc-level running sum not shard-partitioned:\n${docWins.mkString("\n")}")
  }

  test("funnel conversion is a semi join — clicks never fan out per purchase") {
    val p = plan("q_events_funnel")
    assert(p.contains("LeftSemi"), s"expected temporal left-semi join:\n$p")
  }

  test("bigram statistics broadcast the unigram table and corpus totals") {
    // the corpus shuffles once (the bigram count); unigram attachment and
    // the two 1-row totals must ride as broadcasts, never re-shuffle it
    val p = plan("q_text_bigrams")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"unigram attachments not broadcast:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"extra key shuffles in bigram plan:\n$p")
  }

  test("fingerprint is the native codegen expression, not the HOF fold") {
    val p = plan("q_text_fingerprint")
    assert(p.contains("graft_fingerprint"), s"native fingerprint absent:\n$p")
    val scan = p.linesIterator
      .filter(_.contains("graft_fingerprint")).mkString("\n")
    assert(!scan.contains("lambdafunction"),
      s"interpreted HOF on the fingerprint scan path:\n$scan")
  }

  test("minhash signature is the native codegen expression, not the HOF tower") {
    val p = plan("q_dedup_minhash_lsh")
    assert(p.contains("graft_minhash"), s"native minhash expr absent:\n$p")
    // the signature scan touches every shingle of the corpus — it must
    // carry no interpreted HOF; lambdas may only appear in the exact
    // Jaccard verify that runs after banding prunes candidates
    val sigScan = p.linesIterator
      .filter(_.contains("graft_minhash")).mkString("\n")
    assert(!sigScan.contains("lambdafunction"),
      s"interpreted HOF on the signature scan path:\n$sigScan")
  }

  test("substring dedup scans with the native gram expression, joins only on hashes") {
    val p = plan("q_dedup_substring")
    assert(p.contains("graft_gram_hashes"), s"native gram expr absent:\n$p")
    val scan = p.linesIterator
      .filter(_.contains("graft_gram_hashes")).mkString("\n")
    assert(!scan.contains("lambdafunction"),
      s"interpreted HOF on the gram scan path:\n$scan")
    // candidate volume = occurrences of duplicated spans (a hash-agg +
    // equi-join on 8-byte keys) — never a pairwise document join
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the substring dedup plan:\n$p")
  }

  test("bloom probe is the built-in codegen expression, not a ScalaUDF") {
    // the probe runs once per fact row on the pre-shuffle scan — a ScalaUDF
    // there would break whole-stage codegen on the hottest path of the query
    val p = plan("q_join_bloom")
    assert(p.contains("might_contain"), s"built-in bloom probe absent:\n$p")
    assert(!p.contains("ScalaUDF") && !p.toLowerCase.contains("pythonudf"),
      s"UDF boundary on the bloom probe path:\n$p")
  }

  test("salted join keeps the salted-equi shape: hash join on (salt, key)") {
    // pins the SaltedJoin decomposition: a hash-keyed equi-join whose key
    // includes the salt column, small side replicated via explode(sequence)
    // — no nested loop, no post-join dedup. (At spec SF the replicated side
    // fits the broadcast threshold, so the join may legitimately be a
    // BroadcastHashJoin; at scale the same plan shuffles on (salt, key).)
    val p = plan("q_join_salted")
    assert("Join \\[__graft_salt__#\\d+, ".r.findFirstIn(p).isDefined,
      s"join key does not lead with the salt column:\n$p")
    assert(p.contains("Generate explode"),
      s"small side not replicated via explode(sequence):\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join sneaked in:\n$p")
  }

  test("LSH bucket is the native codegen expression, not the HOF tower") {
    val p = plan("q_sim_lsh_ann")
    assert(p.contains("graft_lsh_bucket"), s"native bucket expr absent:\n$p")
    // the corpus-wide scan must carry no interpreted HOF: lambda towers
    // (aggregate/zip_with) may appear only in the exact-decimal verify
    // that runs AFTER the bucket join prunes candidates
    val bucketScan = p.linesIterator
      .filter(_.contains("graft_lsh_bucket")).mkString("\n")
    assert(!bucketScan.contains("lambdafunction"),
      s"interpreted HOF on the full-scan path:\n$bucketScan")
  }

  test("PQ ADC search: codegen lookup chain on the corpus path, no shuffle join, bounded exchanges") {
    // the 100 TB contract of q_sim_pq_search: the corpus-sized side
    // (code rows) must reach the per-query top-k through broadcasts
    // only — no sort-merge/shuffled-hash join anywhere — and the ADC
    // distance must be the plain element_at chain (pure codegen), not
    // an interpreted HOF fold. The HOF folds that DO appear belong to
    // the index-build/LUT phases (per-slice encode distances), never to
    // the per-candidate scoring projection.
    val p = plan("q_sim_pq_search")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus rows shuffled for a join on the ADC path:\n${p.take(4000)}")
    val adc = p.linesIterator.filter(_.contains("adist")).mkString("\n")
    assert(adc.contains("lut#") && adc.contains("codes#"),
      s"ADC projection not found:\n${p.take(4000)}")
    assert(!adc.contains("lambdafunction"),
      s"interpreted HOF on the per-candidate scoring path:\n$adc")
    // exchanges: encode argmin + codes-collect + LUT collect + top-k
    // window on q_id — anything more means corpus rows started riding
    // extra shuffles
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 4,
      s"extra shuffles on the ADC path:\n${p.take(4000)}")
  }

  test("ORC scan pushes the filter into the reader like parquet would") {
    val p = plan("q_source_orc")
    val scan = p.linesIterator.filter(_.contains("Format: ORC")).mkString("\n")
    assert(scan.nonEmpty, s"no orc scan in plan:\n$p")
    assert(p.contains("GreaterThan(c_acctbal"),
      s"acctbal predicate not pushed to the orc reader:\n$p")
  }

  test("bucketed join never exchanges its keys, even as a merge join") {
    // past the broadcast heuristic (which would hide the layout win at
    // fixture scale), the co-bucketed layout must carry the join with
    // zero key shuffles; restore the SAVED threshold, not a hardcoded
    // default — the session is shared across every suite
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q_join_bucketed")
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("hashpartitioning(l_orderkey")
        && !p.contains("hashpartitioning(o_orderkey"),
        s"bucketed join must not shuffle its keys:\n$p")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("incremental dedup: bloom probe, broadcast-only joins — the base snapshot never key-exchanges") {
    // the 100 TB contract of q_dedup_incremental: the base side is only
    // ever scanned (bloom build, exact confirm) — every join is a
    // BroadcastHashJoin with the SMALL side as build, so no exchange
    // anywhere carries base-volume rows keyed for a join; the one
    // full-row shuffle in the query is the batch-side in-batch-dedup
    // window. executedPlan (not sparkPlan) so exchanges are visible.
    val q = Registry.all.find(_.name == "q_dedup_incremental").get
    val p = q.run(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("might_contain"),
      s"codegen bloom probe absent from the batch scan:\n${p.take(4000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a join shuffled its inputs — the base side must stay exchange-free:\n${p.take(4000)}")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected broadcast confirm/anti/rollup joins:\n${p.take(4000)}")
  }

  test("indexed incremental dedup: day-2 plan reads the persisted index, never rebuilds it") {
    // q_dedup_incremental's nightly contract, day 2: the bloom sketch
    // comes off disk and exact confirmation streams the fp-only index
    // parquet — documents is scanned only to construct the incoming
    // batch. The index-path scan below is the base side's ONLY input
    // (DedupSpec separately pins the day-2 answer equal to the
    // from-scratch query's, so a silent fallback to rescanning base
    // text would have nowhere to hide); join discipline matches the
    // non-indexed gate: broadcast-only, the index never key-exchanges.
    val q = Registry.all.find(_.name == "q_dedup_incremental_indexed").get
    val p = q.run(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("graft_dedup_base_index"),
      s"persisted fp index absent from the day-2 plan:\n${p.take(4000)}")
    assert(p.contains("might_contain"),
      s"disk-loaded bloom probe absent from the batch scan:\n${p.take(4000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a join shuffled its inputs — the index side must stay exchange-free:\n${p.take(4000)}")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected broadcast confirm/anti/rollup joins:\n${p.take(4000)}")
  }

  test("banded incremental fuzzy dedup: candidates from the persisted LSH index, batch side always the broadcast build") {
    // the skew-safe day-2 shape: (band, key) equi-join against the
    // staged banded index — no raw-shingle join key exists anywhere, so
    // the hot-boilerplate-shingle cross-product class is structurally
    // absent; every broadcast build side is SIZE-BOUNDED (band rows are
    // 24 bytes; candidate pairs are bounded by near-dup mass) and both
    // the 100 TB index and the batch's multi-KB signature arrays only
    // ever stream (the sf10 decade run killed the round-12 orientation
    // that broadcast the batch arrays).
    val q = Registry.all.find(_.name == "q_dedup_incremental_lsh").get
    val p = q.run(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("graft_dedup_lsh_index"),
      s"persisted banded index absent from the day-2 plan:\n${p.take(4000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a join shuffled its inputs — the index side must stay exchange-free:\n${p.take(4000)}")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected broadcast band-join/attach/verify joins:\n${p.take(4000)}")
  }

  test("heavy hitters: bounded candidate/rescan shape — no whole-vocabulary shuffle, no window, no global sort") {
    val p = plan("q_text_heavy_hitters")
    assert(p.contains("MapPartitions"),
      s"per-partition bounded counting pass absent:\n${p.take(4000)}")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"rescan must filter to broadcast candidates pre-aggregation:\n${p.take(4000)}")
    assert(!p.contains("Window"), s"whole-vocab window sneaked in:\n${p.take(4000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a bounded take, not a global sort:\n${p.take(4000)}")
  }

  test("z-order box query pushes both dimensions into the parquet scan") {
    // the layout only pays off if BOTH box predicates reach the reader
    // as pushed filters (row-group stats skipping needs them there);
    // the default 100-char metadata rendering truncates the filter list
    // mid-way, so widen it for the assertion (restored after)
    val key = "spark.sql.maxMetadataStringLength"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "2000")
    val p = try plan("q_layout_zorder") finally spark.conf.set(key, saved)
    assert(p.contains("PushedFilters"), s"no pushed filters:\n${p.take(3000)}")
    assert(p.contains("GreaterThanOrEqual(o_custkey,20)")
      && p.contains("LessThanOrEqual(o_custkey,60)"),
      s"custkey box not pushed:\n${p.take(3000)}")
    assert(p.contains("GreaterThanOrEqual(o_orderdate")
      && p.contains("LessThan(o_orderdate"),
      s"date box not pushed:\n${p.take(3000)}")
  }

  test("DPP join prunes fact partitions at runtime from the dim filter") {
    val p = plan("q_join_dpp")
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$p")
  }

  test("PII redaction is one scan + one aggregate exchange, no join") {
    val p = plan("q_text_pii_redact")
    assert("Exchange".r.findAllIn(p).size <= 2, // partial->final agg + sort
      s"pii scrub added a shuffle beyond agg/sort:\n$p")
    assert(!p.contains("Join"), s"pii scrub must not join:\n$p")
    assert("FileScan|BatchScan".r.findAllIn(p).size == 1,
      s"pii scrub must read the corpus once:\n$p")
  }

  test("profile reads the table once — unpivot, not a scan per column") {
    val p = plan("q_profile")
    assert("FileScan|BatchScan".r.findAllIn(p).size == 1,
      s"profile must be one scan, got:\n$p")
  }

  test("LM scoring attaches count tables via broadcast — corpus rows never shuffle unaggregated") {
    val p = plan("q_text_lm_score")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"bigram/unigram count attach must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle join in lm scoring:\n$p")
  }

  test("BPE encode attaches token counts via broadcast, corpus never shuffles for the join") {
    val p = plan("q_text_bpe_encode")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab token-count attach must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle join in encode:\n$p")
  }

  test("pagerank: folded first iteration, coalesced invariant, broadcast rank joins only") {
    // round-20 wins, pinned round 21 (verdict item 7) so a refactor
    // can't silently reintroduce the constant-r0 join or lose the
    // partial-aggregation width derived from the graph stats.
    val p = plan("q_graph_pagerank")
    assert("sum\\(\\(1000000 div d#\\d+L?\\)\\)".r.findFirstIn(p).isDefined,
      s"folded first iteration missing (constant-r0 aggregate):\n${p.take(3000)}")
    assert(p.contains("Coalesce"),
      s"loop-invariant width coalesce missing:\n${p.take(3000)}")
    // src-keyed broadcast joins: 1 degree attach + (iters-1)=2 rank
    // joins; a 4th means the folded iteration came back. DISTINCT by
    // full key signature: the eagerly-materialized caches embed final
    // plans whose subtrees are REPRINTED, so a raw occurrence count
    // sees the same join many times over.
    val srcJoins =
      "BroadcastHashJoin \\[src[^\\]]*\\], \\[[^\\]]*\\]".r.findAllIn(p).toSet
    assert(srcJoins.size <= 3,
      s"expected <=3 distinct src-keyed broadcast joins (deg + 2 rank), " +
        s"got ${srcJoins.size}: $srcJoins")
    assert(!p.contains("SortMergeJoin"),
      s"rank iteration fell back to a shuffle join:\n${p.take(3000)}")
  }

  test("semantic assignment is the fused argmax kernel, not the k-way explode aggregate") {
    // round-20 win, pinned round 21 (verdict item 7): the pre-r20 shape
    // amplified every corpus row k=16x and hashed the full embedding
    // array as an aggregate group key (its signature: max(struct(cos…)).
    val p = plan("q_dedup_semantic")
    assert(p.contains("graft_ivf_argmax"),
      s"fused argmax kernel missing from assignment:\n${p.take(3000)}")
    assert(!p.contains("max(struct(cos"),
      s"k-way explode/max-struct assignment shape reappeared:\n${p.take(3000)}")
  }

  test("bloom dedup plans carry the sketch by reference: formatted explain < 100 KB, no hex run") {
    // a sketch inlined as a BinaryType literal is hex-formatted into
    // every plan string (explain, each AQE re-plan in the status store):
    // 0.5-1 MB per probe at a fixed 300k-item sizing
    for (name <- Seq("q_dedup_incremental", "q_dedup_incremental_indexed",
        "q_dedup_index_merge")) {
      val q = Registry.all.find(_.name == name).get
      val p = q.run(spark, sf).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("might_contain"), s"$name: bloom probe absent")
      assert(p.length < 100 * 1024, s"$name: formatted explain is ${p.length} chars")
      val hex = "[0-9A-Fa-f]{2048,}".r.findFirstIn(p)
      assert(hex.isEmpty,
        s"$name: ${hex.map(_.length).getOrElse(0)}-char hex run in the plan")
    }
  }

  test("documents guard scope: only the kernel-dense scans repartition documents") {
    // Tables.documentsDense hash-spreads the one-row-group corpus only
    // when the session's parallelism dwarfs its splits; at the shared
    // local[4] session it never fires, so the pin builds each plan at
    // the 32-core bench axis's width, where it must
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_NUM, ShuffleExchangeExec}
    // every node, through cached relations (the pair queries cache their
    // guarded shingle frame) and adaptive wrappers
    def inner(p: SparkPlan): Seq[SparkPlan] = p match {
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: inner(p).flatMap(nodes)
    def scansDocuments(p: SparkPlan): Boolean = p match {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.getName == "documents.parquet")
      case _: Exchange => false
      case o => inner(o).exists(scansDocuments)
    }
    def repartitionsDocuments(name: String): Boolean = {
      val q = Registry.all.find(_.name == name).get
      val p = org.apache.spark.GraftParallelismBridge
        .withDefaultParallelism(spark.sparkContext, 32) {
          q.run(spark, sf).queryExecution.sparkPlan
        }
      nodes(p).exists {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM =>
          scansDocuments(e.child)
        case _ => false
      }
    }
    for (name <- Seq("q_dedup_exact", "q_text_tokens", "q_dedup_incremental"))
      assert(!repartitionsDocuments(name),
        s"$name: light consumer grew the documents repartition guard")
    for (name <- Seq("q_text_lm_score", "q_dedup_ngram_jaccard",
        "q_dedup_containment", "q_dedup_winnow", "q_text_repetition"))
      assert(repartitionsDocuments(name),
        s"$name: kernel-dense consumer lost the documents repartition guard")
  }
}
