package graft

/** Plan-shape pins for the round-10 pipeline queries: the properties that
  * make them survive 100 TB are structural (what the plan does NOT contain),
  * so they are asserted here rather than trusted to stay true. sf0.001
  * keeps the runs cheap — plan shape does not depend on row count.
  */
class PipelinePlanSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("e07 PQ-ADC: never cartesian; codebook/dtable sides broadcast") {
    val plan = planOf("e07_pq_adc")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"ADC join fell to SMJ in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("e08 PQ recall: never cartesian on the ANN side") {
    val plan = planOf("e08_pq_recall")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("t17 mixture sampling: zero joins — sampling is a map-side decision") {
    val plan = planOf("t17_mixture_sample")
    assert(!plan.contains("Join"), s"join appeared in sampling plan:\n$plan")
    // shuffles: REPARTITION hint + the bounded report aggregate (count
    // distinct expands to two) — nothing keyed by data content
    val shuffles = "Exchange".r.findAllIn(plan).length
    assert(shuffles <= 4, s"unexpected shuffle count $shuffles in:\n$plan")
  }

  test("t18 chunking: zero joins — chunk explode is map-side") {
    val plan = planOf("t18_chunking")
    assert(!plan.contains("Join"), s"join appeared in chunking plan:\n$plan")
  }

  test("t20 bloom prefilter: prunes map-side, result bloom-independent") {
    import spark.implicits._
    // tiny synthetic corpus: 200 "training" keys, 5 of them contaminated
    // into a 10-key eval set — the bloom must pass all 5 true members (no
    // false negatives) and drop the overwhelming majority of the rest
    Seq.tabulate(200)(i => (i.toLong, s"train_key_$i"))
      .toDF("id", "k").createOrReplaceTempView("t20spec_train")
    ((0 until 5).map(i => s"train_key_${i * 7}") ++
      (0 until 5).map(i => s"eval_only_$i"))
      .toDF("k").createOrReplaceTempView("t20spec_eval")
    val survivors = spark.sql("""
      SELECT id FROM t20spec_train
      WHERE graft_might_contain(
        (SELECT graft_bloom_agg(graft_hash(k), 64) FROM t20spec_eval),
        graft_hash(k))""").as[Long].collect().toSet
    val trueMembers = Set(0L, 7L, 14L, 21L, 28L)
    assert(trueMembers.subsetOf(survivors), s"bloom dropped a true member: $survivors")
    assert(survivors.size < 50, s"bloom pruned nothing: ${survivors.size} of 200 survive")
    // bloom-independence: prefilter + exact confirm == plain exact join
    val confirmed = spark.sql("""
      SELECT t.id FROM t20spec_train t JOIN t20spec_eval e ON e.k = t.k
      WHERE graft_might_contain(
        (SELECT graft_bloom_agg(graft_hash(k), 64) FROM t20spec_eval),
        graft_hash(t.k))""").as[Long].collect().toSet
    val exact = spark.sql(
      "SELECT t.id FROM t20spec_train t JOIN t20spec_eval e ON e.k = t.k")
      .as[Long].collect().toSet
    assert(confirmed == exact, s"bloom changed the confirmed result: $confirmed vs $exact")
    assert(exact == trueMembers)
  }

  test("e12 multi-probe: report stage joins checkpoints, corpus never re-scanned") {
    val plan = planOf("e12_multiprobe_lsh")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    // candidate set and exact top-3 are localCheckpoint'ed ONCE each; the
    // report stage must consume the materialized tables, not re-derive them
    // (the CTE form inlined every reference: 3 bucket joins + 2 brute-force
    // corpus passes in one plan)
    assert(!plan.contains("Scan parquet"),
      s"report stage re-scanned the corpus instead of the checkpoints:\n$plan")
    // the candidate build itself is the equi-join + bounded-BNLJ shape; it
    // ran during view setup — here we pin the checkpointed views exist
    assert(spark.catalog.tableExists("e12_cand") && spark.catalog.tableExists("e12_ex3"))
  }

  test("t24 tf-idf: zero joins, single corpus scan — df is a window, not a self-join") {
    val plan = planOf("t24_tfidf_terms")
    assert(!plan.contains("Join"), s"join appeared in tf-idf plan:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"corpus scanned $scans times (df-as-CTE would inline twice):\n$plan")
  }

  test("t25 CMS prefilter: tail dropped before the shuffle, result sketch-independent") {
    import spark.implicits._
    // 2000 singleton tail tokens + two heavy tokens at 300 occurrences:
    // threshold = 1% of 2600 = 26, so exactly the two heavies qualify
    val toks = (0 until 2000).map(i => s"tail_$i") ++
      Seq.fill(300)("heavy_a") ++ Seq.fill(300)("heavy_b")
    toks.toDF("tok").createOrReplaceTempView("t25spec_tok")
    val cand = spark.sql("""
      SELECT tok FROM t25spec_tok
      WHERE graft_cms_estimate(
              (SELECT count_min_sketch(tok, 0.0005D, 0.99D, 42) FROM t25spec_tok),
              tok) * 100 >= (SELECT COUNT(*) FROM t25spec_tok)""")
    val survivors = cand.count()
    // one-sided error: every heavy occurrence survives; the tail is pruned
    // BEFORE the exact group-by shuffle (this is the 100 TB win: the
    // billion-key tail never enters the exchange)
    assert(survivors >= 600, s"CMS dropped heavy occurrences: $survivors")
    assert(survivors < 900, s"CMS pruned almost nothing: $survivors of 2600")
    val viaCms = cand.groupBy("tok").count()
      .where($"count" * 100 >= 2600).collect().map(_.getString(0)).toSet
    val exact = spark.sql("""
      SELECT tok FROM t25spec_tok GROUP BY tok
      HAVING COUNT(*) * 100 >= (SELECT COUNT(*) FROM t25spec_tok)""")
      .collect().map(_.getString(0)).toSet
    assert(viaCms == exact && exact == Set("heavy_a", "heavy_b"),
      s"sketch changed the result: cms=$viaCms exact=$exact")
  }

  test("t25 plan: CMS probe sits below the exchange (map-side prune)") {
    val plan = SparkEntry.queries("t25_cms_heavy_hitters")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("cmsEstimate"), s"no CMS probe in plan:\n$plan")
    assert(plan.indexOf("cmsEstimate") > plan.indexOf("Exchange"),
      s"CMS probe not below a shuffle in:\n$plan")
  }

  test("t26/m07: per-row kernel queries keep zero joins and a single scan") {
    for (name <- Seq("t26_bpe_pretokenize", "m07_format_roundtrip")) {
      val plan = planOf(name)
      assert(!plan.contains("Join"), s"$name grew a join:\n$plan")
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans == 1, s"$name scanned the corpus $scans times:\n$plan")
    }
  }

  test("t23 plan: single corpus scan, df via window — no self-join") {
    // round-17 judge finding: the df-as-CTE join form inlined `big` twice,
    // tokenizing and exploding the whole corpus per run (a 2× corpus scan at
    // 100 TB). The window rewrite must keep exactly one scan of `documents`
    // and no join anywhere in the plan.
    val plan = planOf("t23_bigram_novelty")
    assert(!plan.contains("Join"), s"t23 grew a join back:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"t23 scanned the corpus $scans times:\n$plan")
    assert(plan.contains("Window"), s"t23 df not computed via window:\n$plan")
  }

  test("q09 grouping sets: one Expand + aggregate pass, not a union of scans") {
    val plan = planOf("q09_grouping_sets")
    assert(plan.contains("Expand"), s"grouping sets did not plan via Expand:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 2, s"expected one scan per joined table, got $scans:\n$plan")
  }

  test("t20 plan: bloom probe sits below the exchange (map-side prune)") {
    val plan = SparkEntry.queries("t20_bloom_contamination")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom probe in plan:\n$plan")
    // the filter must appear under the first exchange above the documents
    // scan: split at the FIRST Exchange going bottom-up — textually, the
    // probe must occur BELOW (after, in toString order) the last Exchange
    val afterLastExchange = plan.substring(plan.lastIndexOf("Exchange"))
    assert(afterLastExchange.contains("might_contain") ||
           plan.indexOf("might_contain") > plan.indexOf("Exchange"),
      s"bloom probe not below a shuffle in:\n$plan")
  }

  test("q10: correlated EXISTS/NOT EXISTS rewrite to semi/anti hash joins") {
    val plan = planOf("q10_waiting_supplier")
    assert(plan.contains("LeftSemi"), s"EXISTS did not plan as a semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"NOT EXISTS did not plan as an anti join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"subquery fell to a nested loop in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 planned as a full sort instead of TakeOrdered:\n$plan")
  }

  test("e14 RRF fusion: both candidate routes and the fusion stay equi-joins") {
    val plan = planOf("e14_rrf_fusion")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("e13 semdedup: cosine self-join stays keyed by cluster, never cartesian") {
    val plan = planOf("e13_semdedup")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    // the centroid tables (8 rows) may ride a broadcast nested loop, but
    // the O(n^2) dup self-join must be a cluster_id equi-join
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
           plan.contains("BroadcastHashJoin"),
      s"within-cluster dup join is not an equi-join in:\n$plan")
  }

  test("t28 span dedup: shingle join is an equi-join; islands are one window pass") {
    val plan = planOf("t28_span_dedup")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"shingle dup join fell to BNLJ in:\n$plan")
  }

  test("t29 DSIR: top-k is TakeOrdered (no full sort); stats join off broadcast") {
    val plan = planOf("t29_dsir_select")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 planned as a full sort instead of TakeOrdered:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"512-row bucket stats did not broadcast in:\n$plan")
  }

  test("q16 PageRank: final plan reads checkpoints, never rescans lineitem") {
    // the iterated score table must be cut from the edge-build lineage:
    // a plan that still contains the parquet scan would recompute the
    // DISTINCT edge shuffle once per iteration (the 9.6 s pathology)
    val plan = planOf("q16_pagerank")
    assert(!plan.contains("FileScan") && !plan.toLowerCase.contains("parquet"),
      s"final PageRank plan still reaches the source scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 planned as a full sort instead of TakeOrdered:\n$plan")
  }

  test("t38 line dedup: canonical pick is one window over a content-keyed exchange") {
    val plan = planOf("t38_line_dedup")
    assert(!plan.contains("Join"), s"line dedup needs no join:\n$plan")
    assert(plan.contains("Window"), s"keep-first needs a window:\n$plan")
    assert(plan.contains("hashpartitioning(line"),
      s"dedup exchange is not keyed by line content:\n$plan")
  }

  test("g68 tile rollup: one corpus scan feeds the whole pyramid") {
    val plan = planOf("g68_tile_rollup")
    val scans = "Scan parquet".r.findAllIn(plan).length
    // Spark may reuse the exchange rather than the scan node; either way
    // the finest level must not be recomputed once per zoom
    assert(scans <= 2 || plan.contains("ReusedExchange"),
      s"pyramid recomputes the corpus scan per level ($scans scans):\n$plan")
  }

  test("m14 phash bands / t39 leakage: candidate joins never cartesian") {
    for (name <- Seq("m14_phash_bands", "t39_split_leakage")) {
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct"), s"cartesian in $name:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in $name:\n$plan")
    }
  }

  test("t45 bigram LM: model joins are hash joins, never cartesian") {
    // the scoring join re-keys doc bigrams against the (vocabulary-bounded)
    // c12/c1 model tables on content keys; only the single-row vocab-size
    // scalar may ride a broadcast nested loop
    val plan = planOf("t45_bigram_lm")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), s"no hash join for the model in:\n$plan")
  }

  test("t47 contamination: benchmark shingle join is a hash join") {
    val plan = planOf("t47_contamination_score")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), s"no hash join in:\n$plan")
  }

  test("e29 index staleness: centroid fan-outs broadcast, never cartesian") {
    // corpus × K-centroid cross joins must be broadcast loops over the
    // 4-row side (a CartesianProduct here would shuffle the corpus against
    // itself at scale — round-11 hint fix)
    val plan = planOf("e29_index_staleness")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("t49 URL canonicalize: map-side normalize, no joins") {
    val plan = planOf("t49_url_canonical")
    assert(!plan.contains("Join"), s"join appeared in normalize plan:\n$plan")
  }
}
