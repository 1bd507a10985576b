package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

/** Guards on the physical-plan properties the 100 TB design depends on
  * (the "would this survive a 100× scale-up" checklist): predicate
  * pushdown + column pruning at the scan, broadcast for dims (never
  * facts), two-phase aggregation, top-k without global sort, bucketed
  * co-located joins (no shuffle), and salting for skewed keys.
  */
class ScaleDesignSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q01: ship-date predicate pushed to parquet; lineitem read pruned to 7 columns") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey"), "unused columns must not be read")
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_tax"))
  }

  test("q10: all five dimension joins broadcast; no fact table broadcast") {
    val p = plan("q10_regional_revenue")
    // formatted explain lists each node once in the tree and once in the
    // details section — count tree nodes only
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size === 5)
    // the big fact-fact join (lineitem ⋈ orders) must not nest-loop
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q01: aggregation is two-phase (partial map-side + final)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q03: top-k compiles to TakeOrderedAndProject, not a global sort") {
    assert(plan("q03_shipping_priority").contains("TakeOrderedAndProject"))
  }

  test("q49: rank filter pushes into WindowGroupLimit") {
    assert(plan("q49_cosine_topk").contains("WindowGroupLimit"))
  }

  test("bucketed fact tables join without a shuffle exchange") {
    val o = Tables.load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    val l = Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").saveAsTable("orders_b")
    l.write.mode("overwrite").bucketBy(8, "l_orderkey").saveAsTable("lineitem_b")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey")).agg(sum(col("l_quantity")).as("q"))
      // co-located bucketed join: no Exchange anywhere in the plan
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val p = joined.queryExecution.explainString(ExplainMode.fromString("formatted"))
        assert(p.contains("SortMergeJoin"))
        assert(!p.contains("Exchange"),
          s"bucketed join must not shuffle:\n$p")
        assert(joined.count() > 0)
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("q51/q52: the bench's volatile shuffle-heavy rows keep their exchange floors") {
    // these two rows have repeatedly inflated in noisy driver-bench
    // windows (r06/r09, up to 4.2×) with UNCHANGED code — pin their
    // plan shape so a REAL regression (an extra shuffle creeping in)
    // is caught deterministically in CI instead of hiding in the
    // bench's noise band (VERDICT r9 #5)
    assert("\\(\\d+\\) Exchange".r.findAllIn(plan("q51_simhash")).size <= 2,
      "q51 simhash: band-bucket join must keep ≤2 shuffles")
    assert("\\(\\d+\\) Exchange".r.findAllIn(plan("q52_minhash_lsh")).size <= 1,
      "q52 minhash+LSH: the bucket join must stay single-shuffle")
  }

  test("q53: LSH candidate set is sub-quadratic (o(n_q·n) pairs reach the re-rank)") {
    val n = Tables.load(spark, sf, "embeddings").count()
    val nQ = 20L
    val cands = graft.queries.LlmSimQueries.annCandidates(spark, sf).count()
    // worst case (brute force) scores n_q·(n-1) pairs; the index must
    // prune the vast majority even at this tiny SF (buckets get MORE
    // selective as n grows at fixed L, so passing here lower-bounds
    // the pruning at scale)
    assert(cands < nQ * (n - 1) / 4,
      s"candidates=$cands vs brute=${nQ * (n - 1)}")
  }

  test("q54: fingerprint sketch is map-side only (single exchange, for the final sort)") {
    val p = plan("q54_rolling_fingerprint")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size === 1,
      s"bottom-k sketch must not shuffle grams:\n$p")
  }

  test("q50: tile loop runs as broadcast nested-loop joins, no driver-side block") {
    val p = plan("q50_embedding_neardup")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"), "block product must broadcast the tile")
  }

  test("q47: hot-shingle df-cap is applied before the inverted-index self-join") {
    // the cap's aggregate appears in the plan as an extra count over
    // shingle feeding a filter — assert the plan carries it (guards
    // against the cap being optimized away or dropped in a refactor).
    // Inspect the PRE-checkpoint pipeline: the shipped query
    // materializes the pair set, which truncates its visible plan.
    val (pairs, sh) = graft.queries.LlmTextQueries.ngramJaccardPairs(spark, sf)
    try {
      val p = pairs.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("<= 256"), s"df-cap filter missing from plan:\n$p")
    } finally sh.unpersist()
  }

  test("q63: IVF candidate scoring broadcasts probes/queries over the corpus; no cartesian") {
    // q63's returned frame is the checkpointed top-k (sorted), so the
    // scale-relevant plan is the pipeline PRODUCING it: literal-centroid
    // assignment (pure map-side — no join at all touches the corpus)
    // feeding broadcast-hash joins with the O(queries) probe/query
    // local relations.
    import graft.queries.LlmSimQueries._
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("nrm", sqrt(expr("dotp(embedding, embedding)")))
    val cv = ivfCentroidValues(e)
    val assigned = ivfAssignV(e, cv)
    val probes = Seq((0L, 1), (1L, 2)).toDF("q_id", "cell")
    val qe = Seq((0L, Seq(0f), 1.0), (1L, Seq(0f), 1.0)).toDF("q_id", "q_emb", "q_nrm")
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(qe), "q_id")
    val p = scored.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size === 2,
      s"probe + query joins must both broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      "the n×C assignment must never shuffle-pair the corpus with itself")
    // shuffle exchanges print as bare "(n) Exchange" in formatted mode
    // (broadcast exchanges as "BroadcastExchange" — those are fine)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).isEmpty,
      s"candidate scoring must stay map-side (no corpus shuffle):\n$p")
  }

  test("q68: eval gram set broadcasts; the corpus is never shuffle-paired") {
    val p = plan("q68_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"the (small) eval-side gram set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    // exactly three shuffles, none of them the corpus gram stream: the
    // eval-side distinct (inside the broadcast build, small side), the
    // per-doc count agg (post-join, already filtered to contaminated
    // grams), and the final sort. The corpus scan must feed the join
    // through Generate with NO exchange in between.
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 3,
      s"decontamination must not shuffle the gram stream:\n$p")
  }

  test("q69: repetition ratio is map-side (single exchange, for the final sort)") {
    val p = plan("q69_repetition")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size === 1,
      s"the rep-ratio signal must not shuffle documents:\n$p")
  }

  test("q70: PII scrub is map-side (single exchange, for the final sort)") {
    val p = plan("q70_pii_redact")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size === 1,
      s"regex redaction must scale linearly with corpus bytes, no shuffle:\n$p")
  }

  test("q81: quality classifier is map-side (single exchange, for the final sort)") {
    val p = plan("q81_quality_classifier")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size === 1,
      s"hashed-BoW scoring must scale linearly with corpus bytes, no shuffle:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q71: packing prefix-sum never pulls the corpus into one partition") {
    val p = plan("q71_seq_pack")
    // per-doc running sums go through the shard-partitioned window
    // (hashpartitioning exchange on shard); ONLY the shard-total frame
    // (corpus/64 rows, post-aggregation) crosses a SinglePartition
    // exchange, and it re-joins via broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"shard base offsets must broadcast back, not shuffle the corpus:\n$p")
    val singles = "Arguments: SinglePartition".r.findAllIn(p).size
    assert(singles <= 1,
      s"at most the tiny shard-total frame may single-partition:\n$p")
    assert(!p.contains("CartesianProduct"))
    // both prefix-sum branches hang off canonically identical shard
    // shuffles (the explicit isnotnull keeps them so), which AQE dedups
    // at RUNTIME — execute and require the reuse in the final plan: the
    // corpus is scanned and tokenized once, not once per branch
    val df = SparkEntry.queries("q71_seq_pack")(spark, sf)
    df.collect() // drive THIS instance so its adaptive plan finalizes
    val executed = df.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(executed).size === 1 ||
      executed.contains("ReusedExchange") || executed.contains("ReusedQueryStage"),
      s"the corpus shuffle must be reused across branches at runtime:\n$executed")
  }

  test("q78: boundary splitting stays map-side on the q71 prefix sum") {
    val p = plan("q78_seq_pack_split")
    // same invariants as q71 (shared prefix sum) ...
    assert(p.contains("BroadcastHashJoin"),
      s"shard base offsets must broadcast back, not shuffle the corpus:\n$p")
    assert("Arguments: SinglePartition".r.findAllIn(p).size <= 1,
      s"at most the tiny shard-total frame may single-partition:\n$p")
    assert(!p.contains("CartesianProduct"))
    // ... and the fragment explode must be a Generate directly on the
    // joined stream — no exchange between the join and the explode
    assert(p.contains("Generate"), s"fragment explode missing:\n$p")
    val df = SparkEntry.queries("q78_seq_pack_split")(spark, sf)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(executed).size === 1 ||
      executed.contains("ReusedExchange") || executed.contains("ReusedQueryStage"),
      s"the corpus shuffle must be reused across branches at runtime:\n$executed")
  }

  test("q72: boilerplate df-join co-partitions with the gram agg (no extra gram shuffle)") {
    val p = plan("q72_boilerplate")
    assert(!p.contains("CartesianProduct"))
    // gram streams shuffle at most: df agg (on g) + presence join reuse,
    // the doc-keyed agg, and the final sort — the join itself must not
    // introduce a fourth exchange beyond those
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 4,
      s"df join must co-partition with the gram agg:\n$p")
  }

  test("q74: mixture acceptance is map-side up to the per-source agg") {
    val p = plan("q74_domain_mix")
    // weight derivation + hash-bucket acceptance are row-local; the
    // only shuffles are the per-source aggregation and the final sort
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2,
      s"mixture resampling must stay map-side up to the source agg:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("q75: as-of join is one key shuffle + one window pass (no range-join blowup)") {
    val p = plan("q75_asof_join")
    // union-tag formulation: a single hashpartitioning(user_id) feeds
    // the running-last window; the only other exchange is the final
    // sort. A range-join plan (BroadcastNestedLoop/Cartesian over
    // l.ts >= r.ts pairs) must never appear.
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size === 1, s"plan:\n$p")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size === 2, s"plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must compose as a window pass, not a pair join:\n$p")
  }

  test("q76: funnel stages join co-partitioned on the user key (no pair joins)") {
    val p = plan("q76_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"stage progression must never become a per-pair time join:\n$p")
    // corpus-sized data only ever shuffles on user_id (stage aggs +
    // joins); the non-user-keyed exchanges are the four one-row stage
    // counts (SinglePartition) and the 4-row output sort — bound the
    // total so a stage re-shuffled on another key can't slip in
    assert("hashpartitioning\\(user_id".r.findAllIn(p).nonEmpty, s"plan:\n$p")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 13,
      s"unexpected extra shuffles in the funnel plan:\n$p")
    assert(!"hashpartitioning\\((?!user_id)".r.findAllIn(p).hasNext,
      s"corpus data must only shuffle on the user key:\n$p")
  }

  test("q73: int8 quantization is map-side (single exchange, for the final sort)") {
    val p = plan("q73_embed_quantize")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size === 1,
      s"quantization must not shuffle embeddings:\n$p")
  }

  test("q62: feature extraction is map-side until the final sort") {
    val p = plan("q62_multimodal_features")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size === 1,
      s"binary feature extraction must not shuffle blobs:\n$p")
  }

  test("q82: curation pipeline broadcasts the eval gram set and anti-joins survivors (no cartesian)") {
    val p = plan("q82_curation_pipeline")
    assert(!p.contains("CartesianProduct"), s"no pair blowup anywhere:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the eval gram set must broadcast (it is small by construction):\n$p")
    assert(p.contains("LeftAnti"),
      s"contaminated survivors must drop via anti-join, not a collected filter:\n$p")
    // the survivor frame feeds both the gram join and the anti-join
    // probe side, and the packing prefix sum hangs two window branches
    // off the anti-join output — AQE must stitch those into reused
    // stages at runtime rather than recompute the dedup + survivor
    // subtrees per branch
    val df = SparkEntry.queries("q82_curation_pipeline")(spark, sf)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") || executed.contains("ReusedQueryStage"),
      s"shared curation subtrees must be reused across branches at runtime:\n$executed")
  }

  test("q86: fraction decontamination broadcasts the eval gram set (q68 contract)") {
    val p = plan("q86_decontaminate_frac")
    assert(p.contains("BroadcastHashJoin"),
      s"the eval gram side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the corpus must never shuffle-pair against the eval side:\n$p")
  }

  test("q87: percentile cut is one source-window shuffle + the final sort") {
    val p = plan("q87_quality_cut")
    assert("hashpartitioning\\(source".r.findAllIn(p).size >= 1,
      s"the window must partition by source:\n$p")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size === 2,
      s"scoring must stay map-side (window exchange + sort only):\n$p")
  }

  test("q83: mixture plan aggregates two-phase; the weight total rides a 1-row broadcast") {
    val p = plan("q83_mixture_plan")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"per-source token agg must be partial map-side + final:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the Σweights join must broadcast, never a cartesian shuffle:\n$p")
  }

  test("q84: vocab top-k avoids a global sort; word count aggregates two-phase") {
    val p = plan("q84_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-64 must compile to TakeOrderedAndProject:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"token frequency agg must be partial map-side + final:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q85: split assignment is map-side up to the (split, lang) agg (two exchanges)") {
    val p = plan("q85_split_assign")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size === 2,
      s"bucket + split derivation must stay map-side (agg exchange + sort only):\n$p")
  }

  test("q88: bloom probe prunes the gram stream map-side before the confirm join") {
    val p = plan("q88_decontaminate_bloom")
    assert(p.contains("bloom_might_contain"),
      s"the native bloom probe must sit in the corpus-side filter:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the corpus gram stream must never shuffle-pair:\n$p")
    assert(p.contains("LeftAnti"),
      s"clean docs must survive via anti-join, not a collected filter:\n$p")
    // non-broadcast exchanges: eval gram distinct, contaminated-id
    // distinct (both post-prune slivers), final sort — the corpus gram
    // stream itself must reach the confirm join with no exchange
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 3,
      s"bloom pruning must not add shuffles over the q68 contract:\n$p")
  }

  test("q89: SCD2 history is ONE user-key shuffle (windows + agg share the exchange)") {
    val p = plan("q89_scd2_history")
    // change-tag window, version running sum, (user, version) aggregate
    // and the valid_to lead all cluster on user_id — EnsureRequirements
    // must satisfy every downstream distribution from the first
    // exchange, leaving only it plus the final sort
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size === 2,
      s"SCD2 must not re-shuffle between the window and version agg:\n$p")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size >= 1,
      s"the versioning windows must partition by user_id:\n$p")
  }

  test("q90: drift totals ride a 1-row broadcast; frequency subtree reused at runtime") {
    val p = plan("q90_token_drift")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-32 drift tokens must compile to TakeOrderedAndProject:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the totals join must broadcast, never shuffle the freq frame:\n$p")
    // the totals branch re-aggregates the same word-count subtree — AQE
    // must stitch the duplicate exchange into a reused stage at runtime
    val df = SparkEntry.queries("q90_token_drift")(spark, sf)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") || executed.contains("ReusedQueryStage"),
      s"the word-count subtree must be computed once, not per branch:\n$executed")
  }

  test("q90: DECIMAL(38,0) production form matches the gated BIGINT form row-for-row") {
    // the production swap named in q90's scale note, executable: same
    // top-32 verdict, same counts and rounded deltas; only drift_num's
    // TYPE widens (a value that can pass 2^63 cannot ship as BIGINT)
    val bigint = SparkEntry.queries("q90_token_drift")(spark, sf).collect()
    val dec = graft.queries.CurationQueries.tokenDriftDecimal(spark, sf)
    assert(dec.schema("drift_num").dataType ===
      org.apache.spark.sql.types.DecimalType(38, 0))
    val decRows = dec.collect()
    assert(decRows.length === bigint.length)
    bigint.zip(decRows).foreach { case (b, d) =>
      assert(d.getString(0) === b.getString(0), "token order must match")
      assert(d.getLong(1) === b.getLong(1) && d.getLong(2) === b.getLong(2))
      assert(d.getDecimal(3).longValueExact() === b.getLong(3),
        s"drift_num mismatch for ${b.getString(0)}")
      assert(d.getDouble(4) === b.getDouble(4))
    }
  }

  test("q91: MAD trim keeps per-source stats broadcast; corpus scans stay 3-column pruned") {
    val p = plan("q91_outlier_trim")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"per-source stats (20 rows) must broadcast back onto the corpus:\n$p")
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(l =>
      !l.contains("text") && l.contains("n_chars")),
      s"outlier trim must never read document text:\n$p")
  }

  test("q92: first-occurrence attribution hash-aggregates (no SortAggregate over the gram stream)") {
    val p = plan("q92_gram_novelty")
    assert(!p.contains("SortAggregate"),
      s"the packed-BIGINT min must keep the gram agg hash-based:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the 20-row novelty side must broadcast:\n$p")
  }

  test("q12: per-branch distinct counts — no Expand, narrow dedup shuffles, flag-sized joins") {
    val p = plan("q12_count_distinct")
    // r17 opt round: the three countDistincts run as three independent
    // two-phase aggregations joined on l_returnflag. The scale
    // properties: (1) NO Expand — the old multi-distinct form tripled
    // every row into one 6-column exchange; (2) each branch dedups
    // map-side (key-only partial HashAggregate under its exchange);
    // (3) the final assembly joins flag-cardinality aggregates, so no
    // sort-merge join over row data.
    assert(!p.contains("Expand"),
      s"q12 must not expand the row stream 3x (per-branch distincts):\n$p")
    assert(p.contains("Functions: []"),
      s"each distinct branch must dedup map-side before its exchange:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the branch results are flag-cardinality — joins must broadcast:\n$p")
  }

  test("q13/q14: rollup and cube aggregate partial map-side after the Expand") {
    // the grouping-analytics family shares q12's scale shape: Expand
    // multiplies rows by #grouping-sets, so the partial HashAggregate
    // must sit between Expand and the exchange — the shuffle carries
    // per-set partial aggregates, never the expanded raw rows
    Seq("q13_rollup", "q14_cube").foreach { name =>
      val p = plan(name)
      val byId = "(?m)^\\((\\d+)\\) ([A-Za-z]+)".r.findAllMatchIn(p)
        .map(m => m.group(1).toInt -> m.group(2)).toMap
      val expandId = byId.collectFirst { case (id, "Expand") => id }
        .getOrElse(fail(s"no Expand in $name plan:\n$p"))
      assert(byId(expandId + 1) === "HashAggregate",
        s"$name: expanded rows must hit a partial aggregate before any exchange:\n$p")
      assert(byId(expandId + 2) === "Exchange",
        s"$name: expected the shuffle directly above the partial aggregate:\n$p")
    }
  }

  test("salted join spreads a skewed key and preserves the exact result") {
    import spark.implicits._
    // heavily skewed left side: 10k rows of key 1, a handful of others
    val left = ((1 to 10000).map(i => (1L, i.toLong)) ++
      Seq((2L, 1L), (3L, 2L))).toDF("k", "v")
    val right = Seq((1L, "hot"), (2L, "warm"), (3L, "cold")).toDF("k", "tag")
    val salts = 8

    // plain join (reference answer)
    val want = left.join(right, "k").groupBy(col("tag"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

    // salted: explode the small side over the salt space, salt the big
    // side uniformly; join on (k, salt) → skewed key fans out over
    // `salts` reducers instead of one
    val saltedLeft = left.withColumn("_salt", pmod(monotonically_increasing_id(), lit(salts)))
    val saltedRight = right.crossJoin(
      spark.range(salts).select(col("id").as("_salt")))
    val got = saltedLeft.join(saltedRight, Seq("k", "_salt"))
      .groupBy(col("tag")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

    assert(got === want)
    assert(got.find(_._1 == "hot").get._2 === 10000L)
  }

  test("q93: span attribution aggregates two-phase on the hash key; no cartesian") {
    val p = plan("q93_span_dedup")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"first-occurrence min(packed) must partial-aggregate map-side:\n$p")
    assert("hashpartitioning\\(h".r.findAllIn(p).size >= 1,
      s"attribution must cluster on the span hash:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q95: pair counts ride the vocab frame; top-32 avoids a global sort") {
    val p = plan("q95_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-32 must compile to TakeOrderedAndProject:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"both the vocab and the pair aggs must be partial + final:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q96: outlier scoring is map-side — zero exchanges, no join") {
    val p = plan("q96_embed_outliers")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-32 must compile to TakeOrderedAndProject:\n$p")
    assert(!"\\(\\d+\\) Exchange".r.findAllIn(p).hasNext,
      s"scoring must not shuffle (stats are literals):\n$p")
    assert(!p.contains("Join"), s"scoring must not join:\n$p")
  }

  test("q97: scatter partial-aggregates before the exchange; global frame broadcasts") {
    val p = plan("q97_class_scatter")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"(label, dim) and per-label aggs must both be partial + final:\n$p")
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size >= 1,
      s"the 64-row global per-dim frame must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q99: rank filter pushes into WindowGroupLimit; query side broadcasts") {
    val p = plan("q99_retrieval_serve")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-5 must prune inside the window, not post-sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 20-row query side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian shuffle:\n$p")
  }

  test("q100: the history side never shuffles — broadcast probes only") {
    val p = plan("q100_incremental_dedup")
    assert(!p.contains("SortMergeJoin"),
      s"incremental dedup must never sort-merge the history:\n$p")
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"batch hashes, hit-set and first-occurrence must all broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q102: gram dedup is two-phase; source totals broadcast; no cartesian") {
    val p = plan("q102_source_overlap")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"(source, gram) dedup must partial-aggregate map-side:\n$p")
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"the domain-cardinality totals must broadcast onto the pair frame:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q103 production geometry: 64-bit SimHashAgg / 4×16-bit blocks — lossless recall, sub-quadratic candidates on a skewed synthetic corpus") {
    // the geometry q103's scale note names (Manku WWW'07 production
    // shape: 64-bit signatures, 2^16 buckets per block table), run for
    // real: same operators as the gated query (SimHashAgg udaf, block
    // explode, block-equality self-join, xor/bit_count confirm), on a
    // corpus built to be SKEWED — clusters of exact dups and 1-token
    // edits among dispersed singletons.
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    val rnd = new scala.util.Random(10364L)
    val vocab = (0 until 8000).map(i => s"w$i")
    def doc(toks: Seq[String]): String = toks.mkString(" ")
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var id = 0L
    def add(text: String): Unit = { docs += ((id, text)); id += 1 }
    (0 until 120).foreach { _ =>
      // cluster: base + exact dup (hamming 0 guaranteed) + two 1-token
      // edits (small signature perturbations, many land within 3)
      val base = Vector.fill(150)(vocab(rnd.nextInt(vocab.size)))
      add(doc(base)); add(doc(base))
      (0 until 2).foreach { _ =>
        add(doc(base.updated(rnd.nextInt(base.size), vocab(rnd.nextInt(vocab.size)))))
      }
    }
    (0 until 1200).foreach { _ =>
      add(doc(Vector.fill(150)(vocab(rnd.nextInt(vocab.size)))))
    }
    val df = docs.toSeq.toDF("doc_id", "text")
    val shAgg = udaf(new graft.functions.SimHashAgg(64), Encoders.scalaLong)
    val sigs = df
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .groupBy(col("doc_id")).agg(shAgg(col("h")).as("sig"))
      .localCheckpoint()
    // UNSIGNED shift: a full-width signature may use the sign bit
    val blocks = sigs.select(col("doc_id"), col("sig"),
      explode(expr("transform(sequence(0, 3), b -> named_struct('blk', b, " +
        "'bval', shiftrightunsigned(sig, b * 16) % 65536))")).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.blk").as("blk"), col("bb.bval").as("bval"))
    val cand = blocks.as("x").join(blocks.as("y"),
        col("x.blk") === col("y.blk") && col("x.bval") === col("y.bval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("ham"))
    val candVolume = cand.select(col("a"), col("b")).distinct().count()
    val confirmed = cand.filter(col("ham") <= 3).select(col("a"), col("b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact ground truth over the collected signatures (n=1680 longs —
    // driver metadata; the brute force the bucketing must reproduce)
    val sigMap = sigs.collect().map(r => r.getLong(0) -> r.getLong(1))
    val truth = (for {
      (ia, sa) <- sigMap; (ib, sb) <- sigMap
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(truth.size >= 120, s"fixture must contain real near-dup pairs, got ${truth.size}")
    assert(truth === confirmed,
      s"16-bit-block bucketing lost ${(truth -- confirmed).size} / gained ${(confirmed -- truth).size} pairs")
    val allPairs = sigMap.length.toLong * (sigMap.length - 1) / 2
    assert(candVolume < allPairs / 20,
      s"candidate volume must stay sub-quadratic: $candVolume of $allPairs all-pairs")
  }

  test("q103: block bucketing is lossless for hamming <= 3 (pigeonhole, checked exhaustively)") {
    // the algorithmic core of the Manku trick, verified against brute
    // force: split 32 bits into 4 byte blocks; any pair within hamming
    // 3 must agree exactly on >= 1 block. Exhaustive over all 1-, 2-
    // and 3-bit flips of random base signatures.
    val rnd = new scala.util.Random(103L)
    def blocksOf(sig: Long): Seq[Long] = (0 until 4).map(b => (sig >> (b * 8)) & 0xFFL)
    (1 to 50).foreach { _ =>
      val base = rnd.nextLong() & 0xFFFFFFFFL
      val flips = for {
        i <- 0 until 32; j <- i until 32; k <- j until 32
      } yield base ^ (1L << i) ^ (if (j != i) 1L << j else 0L) ^ (if (k != j && k != i) 1L << k else 0L)
      flips.foreach { other =>
        val shared = blocksOf(base).zip(blocksOf(other)).exists { case (a, b) => a == b }
        assert(shared, f"pair within hamming 3 missed every block: $base%08x vs $other%08x")
      }
    }
  }

  test("q104: bigram/unigram aggs two-phase; vocab broadcasts; top-32 without global sort") {
    val p = plan("q104_collocations")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-32 must compile to TakeOrderedAndProject:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"bigram and unigram counts must both partial-aggregate map-side:\n$p")
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"the vocab frame must broadcast onto the bigram frame:\n$p")
    assert(!p.contains("CartesianProduct"), s"the 1-row total must broadcast:\n$p")
  }

  test("AQE skew-join splits a hot partition at runtime (skew=true in the final plan)") {
    // complements the manual salting proof above: with AQE's skew
    // handling on (Bench runs with it), a synthetically skewed
    // orders⋈lineitem-shaped join re-plans at runtime — the hot
    // partition splits into advisory-sized chunks instead of pinning
    // one reducer. Thresholds are shrunk so the tiny fixture exhibits
    // the 100 TB failure mode.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      val pad = "x" * 64
      // "lineitem": ~50k rows on one hot order key, a sprinkle elsewhere
      val fact = spark.range(50000).select(lit(1L).as("k"), concat(col("id"), lit(pad)).as("v"))
        .union(spark.range(100).select((col("id") + 2).as("k"), concat(col("id"), lit(pad)).as("v")))
      val dim = spark.range(200).select(col("id").as("k"), concat(col("id"), lit("t")).as("tag"))
      // keep the payload column through the join: projecting it away
      // would let the (identical-key) shuffle compress below any
      // threshold and the skew never materializes
      val joined = fact.join(dim, "k").select(col("k"), col("v"), col("tag"))
      // materialize through THIS queryExecution (count() would build
      // its own) so the adaptive plan below is the executed one
      assert(joined.collect().length === 50100)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE must mark the hot partition's join as skew-split:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q112: per-source counts aggregate two-phase; the weight total rides a 1-row broadcast") {
    val p = plan("q112_temperature_mix")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    // the normalizing total joins as a broadcast nested-loop over ONE
    // row — never a shuffle of the domain frame
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q106: CMS probe filters map-side, before the single confirm exchange") {
    val p = plan("q106_heavy_hitters")
    // the sketch probe must appear (a Filter on cms_estimate upstream
    // of the aggregation)…
    assert(p.contains("cms_estimate"))
    // …the confirm aggregation is two-phase…
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    // …and the only hash exchange is the candidate-volume confirm (the
    // second Exchange is the final sort's range partitioning)
    assert("hashpartitioning\\(".r.findAllIn(p).size === 1)
  }

  test("q107: one corpus scan, one gram exchange feeding df-cap window, self-join and sizes") {
    graft.functions.GraftFunctions.register(spark)
    val (pairs, capped) = graft.queries.CorpusStatQueries.containmentPairs(spark, sf)
    try {
      val p = pairs.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // the df-capped gram frame is cached: every consumer reads the
      // InMemoryRelation instead of re-running the scan + window
      assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size === 1,
        "df-capped grams must be computed once, not per consumer")
      // exactly one exchange partitions on the gram hash (the window's);
      // the self-join reuses it via the cache (the other two are the
      // pair and sizes aggregations)
      assert("hashpartitioning\\(g#".r.findAllIn(p).size === 1)
      assert(!p.contains("CartesianProduct"))
    } finally capped.unpersist()
  }

  test("q114: persisted-index serve — probed cells prune the codes scan; all serve joins broadcast") {
    graft.functions.GraftFunctions.register(spark)
    val root = java.nio.file.Files.createTempDirectory("scale-annidx").toString
    val e = Tables.load(spark, sf, "embeddings")
    graft.lakehouse.AnnIndex.build(spark, e, root)
    val idx = graft.lakehouse.AnnIndex.load(spark, root)
    val en = e.withColumn("nrm", sqrt(expr("dotp(embedding, embedding)")))
    // r16: serve runs in two halves — the ADC SHORTLIST half (probed
    // cells → window top-50, collected: O(queries·50) index metadata,
    // exactly what the old plan materialized as a broadcast build) and
    // the exact-rerank half whose corpus scan is PRUNED by the
    // shortlist ids. Pin the scale shape of each half.
    val probedCells = idx.centroids.map(_._1) // superset of probed
    val shortHalf = idx.codes
      .filter(col("cell").isin(probedCells.map(Int.box): _*))
    val pShort = shortHalf.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the compressed-corpus scan carries the probed-cell predicate as a
    // PUSHED filter, which the lakehouse scan answers from the hive
    // cell= dirs — at scale this is the partition-pruned read that
    // touches nprobe/C of the index instead of all of it
    assert(pShort.contains("PushedFilters: [In(cell,"),
      s"probed-cell isin must reach the codes scan as a pushed filter:\n$pShort")
    val served = graft.queries.LlmSimQueries.ivfpqServe(
      spark, en, idx.centroids, idx.books, idx.codes)
    val p = served.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the rerank hydration must NOT be a full-corpus read: the
    // shortlist ids push into the scan (IN/InSet → row-group / file
    // pruning at scale)
    assert(p.contains("PushedFilters: [") && p.contains("In(vec_id"),
      s"shortlist ids must push into the hydration scan:\n$p")
    // shortlist pairs / query hydration broadcast; the corpus is never
    // shuffle-paired
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "rerank joins must broadcast index metadata over the scan")
    // per-query ranking is windowed top-k, never a global sort of scores
    assert(p.contains("WindowGroupLimit") || p.contains("RunningWindowFunction") ||
      p.contains("Window"), "rerank must rank per-query")
  }

  test("q108: ONE folded term-model broadcast; scoring path has no sort-merge join") {
    val (screen, model) = graft.queries.CorpusStatQueries.lmFluencyScreen(spark, sf)
    try {
      val p = screen.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // r17 opt round: the per-pair term folds into one (w1, w2)-keyed
      // model frame, so the corpus stream pays exactly ONE model join
      // (the old c2 + c1 double broadcast was the catalog's worst
      // 32-core GC pressure point per the r16 driver bench)
      assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size === 1,
        s"exactly one folded model join must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"))
      // the junk screen is top-k, never a global sort
      assert(p.contains("TakeOrderedAndProject"))
      // the term model is cached — the train slice scans once (plus the
      // corpus-side scan)
      assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size === 2)
    } finally model.unpersist()
  }

  test("q118/q120/q121: media decode is one codegen'd map pass — no shuffle before the final sort") {
    Seq("q118_wav_decode", "q120_bmp_decode", "q121_wav_features").foreach { q =>
      val p = plan(q)
      // encode+decode(+explode) fuse into the scan's stage; the single
      // exchange is the output ORDER BY — at 100 TB the decode cost is
      // pure map-side parallelism, the shuffle only carries results
      assert("\\(\\d+\\) Exchange".r.findAllIn(p).size === 1,
        s"$q must not shuffle blobs:\n$p")
      assert(!p.contains("BroadcastExchange"), s"$q needs no join at all:\n$p")
    }
  }
}
