package graft.queries

import org.apache.spark.sql.execution.SimpleMode

import graft.SparkSpec

/** Physical-plan regression gates: the scale properties README.md claims
  * ("Designed for 100 TB") asserted against the actual optimized plans, so
  * a refactor that silently reintroduces a shuffle, loses a pushed filter,
  * or widens a scan fails CI instead of surviving until a cluster run.
  *
  * Assertions run on the pre-execution plan string (AQE's initial plan) —
  * the shape Catalyst chose, which is what carries to a real cluster.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    graft.queries.Manifest.queries(name)(spark, sf())
      .queryExecution.explainString(SimpleMode)

  test("q1_agg: filter pushed to the parquet scan, schema pruned, " +
      "partial aggregation before the exchange") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"expected pushed shipdate filter:\n$p")
    // projection pruning: untouched wide columns never leave the scan
    assert(!p.contains("l_comment"), s"scan reads unused l_comment:\n$p")
    assert(p.contains("HashAggregate") && p.contains("partial_"),
      s"expected map-side partial aggregation:\n$p")
  }

  test("q6_join_inner: dimension join broadcasts (fact side not shuffled)") {
    val p = plan("q6_join_inner")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("q12_semi / q13_anti: existence probes stay semi/anti, " +
      "never materializing the join") {
    assert(plan("q12_semi").contains("LeftSemi"))
    assert(plan("q13_anti").contains("LeftAnti"))
  }

  test("q21_except / q60_intersect: set ops run as ONE-scan grouped " +
      "presence tests — one exchange, pushed branch filter, no join") {
    for (q <- Seq("q21_except", "q60_intersect")) {
      val p = plan(q)
      val nonBroadcast = p.linesIterator
        .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
      assert(nonBroadcast <= 1,
        s"$q: expected the single aggregate exchange ($nonBroadcast):\n$p")
      assert(!p.contains("Join"), s"$q must not join:\n$p")
      assert(p.contains("PushedFilters: [") && p.contains("In("),
        s"$q: branch membership filter must reach the scan:\n$p")
    }
  }

  test("q70_sketch: bucketed bitmap + mergeable HLL in ONE fact aggregate " +
      "— no per-pair keyed aggregate (neither the mixed-distinct rewrite's " +
      "register-dragging shuffle nor the r11 distinct-pair shuffle), no " +
      "Expand, no join") {
    val p = plan("q70_sketch")
    // any aggregate keyed on the RAW key shuffles per-distinct-value rows
    // (the r11 shape: 9.8 s sf10) or worse, per-pair register columns
    // (the mixed rewrite: 21.8 s); the bitmap form keys on (grp, bucket)
    assert(!p.linesIterator.exists { l =>
      l.contains("Aggregate") && {
        val i = l.indexOf("keys=[")
        i >= 0 && l.substring(i + 6, l.indexOf("]", i)).contains("l_orderkey")
      }
    }, s"no aggregate may key on the raw orderkey:\n$p")
    assert(p.contains("bitmap_construct_agg") && p.contains("hll_sketch_agg"),
      s"exact bitmap + HLL sketch must ride one level-1 aggregate:\n$p")
    assert(!p.contains("Expand"), s"no Expand of the fact table:\n$p")
    assert(!p.contains("Join"), s"no grp join (NULL group survives):\n$p")
    val nonBroadcast = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(nonBroadcast <= 2,
      s"expected bucket + final exchanges only ($nonBroadcast):\n$p")
  }

  test("q49_distinct_agg: bucketed-bitmap plan — NO Expand of the fact " +
      "table (the ×3 replica rewrite), the scan feeds a bitmap aggregate, " +
      "and everything after the first exchange is bitmap-sized") {
    val p = plan("q49_distinct_agg")
    assert(!p.contains("Expand"),
      s"fact-table Expand reintroduced (the 180M-replica plan):\n$p")
    assert(p.contains("bitmap_construct_typed_agg"),
      s"expected the typed bucketed-bitmap aggregate:\n$p")
    // the built-in bitmap aggs are plain ImperativeAggregates: they plan
    // as SortAggregate, whose required ordering per-partition-sorts the
    // WHOLE fact input below the partial agg (sf10 5.4 s vs 1.3 s typed)
    assert(!p.contains("SortAggregate"),
      s"bitmap agg fell off the ObjectHashAggregate path (a SortAggregate " +
        s"here sorts the 60M-row fact input per partition):\n$p")
    // count_distinct in the plan would mean the rewrite fell back
    assert(!p.contains("distinct "), s"planner fell back to distinct:\n$p")
    val nonBroadcast = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(nonBroadcast <= 3,
      s"expected lvl1 + or-merge + final exchanges only ($nonBroadcast):\n$p")
  }

  test("q143_exact_decontam: the corpus side is a pure projection — the " +
      "benchmark gram set probes via the codegen'd in-set expression, " +
      "never an explode or a shuffle") {
    val p = plan("q143_exact_decontam")
    assert(!p.contains("Exchange"), s"corpus side must not shuffle:\n$p")
    assert(!p.contains("Generate"), s"corpus side must not explode:\n$p")
    assert(p.contains("count_in_set"), s"expected the in-set probe:\n$p")
  }

  test("q76_kmv_distinct: bounded KMV typed aggregate — ONE exchange of " +
      "k-long buffers (never the distinct hash set), no window, null " +
      "filter pushed to the scan") {
    val p = plan("q76_kmv_distinct")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Broadcast"))
    assert(exchanges == 1, s"expected exactly one exchange ($exchanges):\n$p")
    assert(p.contains("kmv_mins"), s"expected the KmvMinsAgg aggregate:\n$p")
    assert(p.contains("partial_kmv_mins"),
      s"expected map-side partial KMV state:\n$p")
    assert(!p.contains("Window"), s"the rank-window form is banned:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(user_id)"),
      s"null-value filter must reach the scan:\n$p")
  }

  test("q17_topk: sort+limit fuses to TakeOrderedAndProject " +
      "(no global sort)") {
    val p = plan("q17_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k fusion:\n$p")
  }

  test("q81_repetition: pure per-row column math — zero exchanges") {
    val p = plan("q81_repetition")
    assert(!p.contains("Exchange"), s"per-row query must not shuffle:\n$p")
  }

  test("q41_ann_lsh: fused one-loop signature expression, no cartesian " +
      "product, vector re-fetch joins broadcast") {
    val p = plan("q41_ann_lsh")
    // the signature stage must be the single fused expression — a
    // composed per-plane dot_product projection crosses the JIT method-
    // size ceiling at r≈10 and silently runs interpreted (7× slower,
    // round-6 postmortem)
    assert(p.contains("rhp_signatures"),
      s"expected fused rhp_signatures stage:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"candidate generation must stay a bucketed equi-join:\n$p")
    // candidate verification re-fetches vectors through broadcast joins —
    // the candidate relation must never be shuffle-joined at test SF
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast vector re-fetch:\n$p")
  }

  test("q92_chunks: chunking is a pure map (explode, no shuffle) — " +
      "partition-parallel end to end") {
    val p = plan("q92_chunks")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate"), s"expected the chunk explode:\n$p")
  }

  test("q71_ivf_assign: nearest-centroid argmax is a broadcast map — " +
      "no window, no corpus shuffle") {
    val p = plan("q71_ivf_assign")
    assert(!p.contains("Window"), s"argmax must not use a window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"centroids must broadcast:\n$p")
    // the only exchange allowed is the single-row centroid-array build
    val corpusExchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).toSeq
    assert(corpusExchanges.size <= 1,
      s"corpus must not shuffle for assignment:\n$p")
  }

  test("q83_contamination: the probe set broadcasts; the corpus side " +
      "is never self-joined wide") {
    val p = plan("q83_contamination")
    assert(p.contains("BroadcastHashJoin"), s"probe side must broadcast:\n$p")
  }

  test("q39_knn_brute: single-vector query broadcasts and top-k fuses") {
    val p = plan("q39_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q85_tfidf: the corpus is tokenized exactly once (df via window, " +
      "not a second explode+aggregate); per-doc top-3 is the bounded " +
      "heap, never a doc_id-sorted window") {
    val p = plan("q85_tfidf")
    // exactly one corpus explode (the tokenizer); the only other Generate
    // allowed is the top-k heap's posexplode of its <=3-element arrays
    val tokenizes = p.linesIterator.count(l =>
      l.contains("Generate") && l.contains("explode") &&
        !l.contains("__top"))
    assert(tokenizes == 1, s"expected one explode of the corpus:\n$p")
    assert(p.contains("collect_top_k"),
      s"per-doc top-3 must be the bounded heap:\n$p")
    // the df window keys on term; no window may re-sort by doc_id
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("doc_id")),
      s"no doc_id-partitioned window allowed:\n$p")
  }

  test("q35_fingerprint: per-doc array fold — zero exchanges (no explode " +
      "+ re-aggregate round trip)") {
    val p = plan("q35_fingerprint")
    assert(!p.contains("Exchange"), s"fingerprint must not shuffle:\n$p")
  }

  test("q53_sim_join: the O(1) id half-prune precedes the d-wide dot " +
      "product in the nested-loop condition (And short-circuit order)") {
    val p = plan("q53_sim_join")
    val joinLine = p.linesIterator
      .find(_.contains("BroadcastNestedLoopJoin")).getOrElse("")
    val idCmp = joinLine.indexOf(" < ")
    val dot = joinLine.indexOf("dot_product")
    assert(idCmp >= 0 && dot >= 0 && idCmp < dot,
      s"id comparison must run before the dot product:\n$joinLine\n$p")
  }

  test("q64_fuzzy_block: PassJoin shape — candidates from the hashed " +
      "segment equi-join (broadcast index, never the O(block²) scan), " +
      "thresholded levenshtein verify on matches only") {
    val p = plan("q64_fuzzy_block")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equi-join:\n$p")
    val joinLine = p.linesIterator
      .find(l => l.contains("BroadcastHashJoin") && l.contains("[sk#"))
      .getOrElse("")
    assert(joinLine.nonEmpty,
      s"segment join must broadcast and key on the hashed segment:\n$p")
    // the banded levenshtein runs on segment MATCHES only (the pre-r7
    // form evaluated it per block-pair: 156 M probes, 17 s of q75's 18 s
    // at sf1), thresholded, and AFTER the O(1) id half-prune in the And
    // short-circuit order (the q53 lesson — a pushed filter would
    // otherwise prepend it)
    assert(joinLine.contains("Some(5)"),
      s"levenshtein must carry its early-exit threshold:\n$joinLine\n$p")
    val idCmp = joinLine.indexOf(" < ")
    val lev = joinLine.indexOf("levenshtein")
    assert(idCmp >= 0 && lev >= 0 && idCmp < lev,
      s"id half-prune must run before levenshtein:\n$joinLine")
  }

  test("q41_ann_lsh: candidates flow to the verify joins WITHOUT a " +
      "candidate-level distinct (only the survivor dedup aggregates)") {
    val p = plan("q41_ann_lsh")
    // one distinct = one partial+final HashAggregate pair; a reintroduced
    // candidate-level distinct doubles it and re-adds the dominant shuffle
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs <= 2, s"expected only the survivor distinct, got $aggs " +
      s"HashAggregates:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"verify joins must broadcast:\n$p")
  }

  test("q84_ivf_search: probed cells prune via a semi join and the " +
      "rerank ends in a fused top-k") {
    val p = plan("q84_ivf_search")
    assert(p.contains("LeftSemi"), s"expected probed-cell semi join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k fusion:\n$p")
    assert(!p.contains("Window"), s"assignment must stay window-free:\n$p")
  }

  test("q93_pq_encode: the codebook packs into one broadcast row; the " +
      "corpus side is a pure map — its only exchanges build the codebook") {
    val p = plan("q93_pq_encode")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"codebook must broadcast:\n$p")
    assert(!p.contains("Window"), s"encode must not use a window:\n$p")
    // codebook packing = two tiny aggregations (per-sub, then single-row);
    // anything beyond that means the CORPUS started shuffling
    val nonBroadcast = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(nonBroadcast <= 2,
      s"corpus must not shuffle for encoding ($nonBroadcast exchanges):\n$p")
  }

  test("q94_pq_search: the LUT broadcasts and ADC top-k fuses " +
      "(no global sort of the scored corpus)") {
    val p = plan("q94_pq_search")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k fusion:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"LUT must broadcast:\n$p")
  }

  test("q97_bloom_semi: fused bloom prefilter guards the fact scan; the " +
      "exact semi-join stays an equi-join (AQE may broadcast at test SF)") {
    val p = plan("q97_bloom_semi")
    assert(p.contains("LeftSemi"), s"expected left-semi join:\n$p")
    // r9: the prefilter is might_contain over a SCALAR-SUBQUERY
    // bloom_filter_agg (one action, no driver round trip); the filter
    // must still guard the fact scan directly
    assert(p.contains("might_contain"), s"expected bloom prefilter:\n$p")
    assert(p.contains("bloom_filter_agg"),
      s"expected the subquery bloom build:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    // the filter-below-exchange ordering of the 100 TB (sort-merge) plan
    // is gated in BloomSpec with broadcast joins turned off
  }

  test("q98_ivfpq_search: corpus path is a pure map — probed-cell semi " +
      "join + LUT broadcast, fused top-k, only tiny-side exchanges") {
    val p = plan("q98_ivfpq_search")
    assert(p.contains("LeftSemi"), s"expected probed-cell semi join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k fusion:\n$p")
    assert(!p.contains("Window"), s"assignment must stay window-free:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    // non-broadcast exchanges may only build the broadcast sides:
    // centroid packing (1) + codebook packing (2) + LUT packing (2);
    // one more means the CORPUS started shuffling
    val nonBroadcast = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(nonBroadcast <= 5,
      s"corpus must not shuffle ($nonBroadcast shuffle exchanges):\n$p")
  }

  test("q99_semdedup: pairwise work shuffles on centroid_id only " +
      "(cell-local equi-join), never a cartesian product") {
    val p = plan("q99_semdedup")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    // the pair join must be an EQUI-join keyed on the cell id (shuffled
    // at scale; AQE may broadcast one side at test SF — both are keyed)
    assert(p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("centroid_id")),
      s"expected a centroid_id-keyed pair join:\n$p")
    assert(!p.contains("Window"), s"assignment must stay window-free:\n$p")
  }

  test("q100_quality_cut: the adaptive threshold broadcasts into the " +
      "score relation; the scan reads only doc_id and text") {
    val p = plan("q100_quality_cut")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"threshold must broadcast, never shuffle-join:\n$p")
    // column pruning: the documents scan must not read unused columns
    assert(!p.contains("lang#") || !p.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("lang")),
      s"scan reads unused columns:\n$p")
  }

  test("q101_shards: ONE exchange — the export shuffle itself (keyed on " +
      "the shard id), nothing else") {
    val p = plan("q101_shards")
    val shuffles = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(shuffles == 1,
      s"expected exactly the export shuffle, got $shuffles:\n$p")
    assert(p.contains("Window"), s"in-shard order needs the window:\n$p")
  }

  test("q20_median: fused single-job percentiles — one scan, no joins, " +
      "no broadcast build (the r6 two-pass selection latency, removed)") {
    val p = plan("q20_median")
    assert(!p.contains("Join"), s"fused form must not join:\n$p")
    assert(!p.contains("BroadcastExchange"),
      s"no driver-sequential broadcast-build job:\n$p")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"lineitem must be scanned exactly once, got " +
      s"$scans:\n$p")
    // two exchanges exactly: the map-combined grid aggregate and the
    // key-only window staging — hash(key) then satisfies both windows'
    // (key, cid) clustering AND the final rollup, which plans
    // exchange-free
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(exchanges <= 2,
      s"q20 must be grid + key staging only ($exchanges exchanges):\n$p")
  }

  test("q103_range_shards: percentile boundaries broadcast into a " +
      "pure-map shard assignment — no shuffle join anywhere; the export " +
      "window is the only corpus-width reorganization") {
    val p = plan("q103_range_shards")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"the 1-row boundary frame must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no corpus-width join may appear:\n$p")
    assert(p.contains("Window"), s"in-shard order needs the window:\n$p")
  }

  test("q104_repeated_passages: JOIN-FREE — window fan-out is a pure map, " +
      "cross-doc frequency rides one hash-keyed window, per-doc " +
      "re-aggregation is the only other exchange") {
    val p = plan("q104_repeated_passages")
    assert(!p.contains("Join"), s"no join belongs in this pipeline:\n$p")
    assert(p.contains("Window"), s"df must ride the hash window:\n$p")
    val shuffles = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(shuffles <= 3,
      s"expected (doc,h) agg + h window + doc agg exchanges only, got " +
        s"$shuffles:\n$p")
  }

  test("q102_incremental_dedup: cross-side joins are all equi-joins — " +
      "no cartesian product anywhere in the two-stage pipeline") {
    val p = plan("q102_incremental_dedup")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"every join must be keyed (band/bucket, fp, shh, doc):\n$p")
    assert(p.contains("LeftSemi"), s"exact stage must stay a semi join:\n$p")
  }

  test("q105_ivfpq_rerank: shortlist broadcasts back into the corpus " +
      "scan (BHJ on vec_id), fused top-k, corpus never shuffles") {
    val p = plan("q105_ivfpq_rerank")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k fusion:\n$p")
    // the rerank fetch is the serving system's point-lookup: the
    // shortlist must be the BUILD side of a broadcast-hash join keyed on
    // vec_id, never a shuffle of the corpus
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("vec_id")),
      s"expected broadcast vec_id rerank join:\n$p")
    // same budget as q98 plus the shortlist's own TakeOrdered exchange —
    // anything beyond means the CORPUS started shuffling
    val nonBroadcast = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(nonBroadcast <= 6,
      s"corpus must not shuffle ($nonBroadcast shuffle exchanges):\n$p")
  }

  test("q106_ivfpq_batch: probed cells + per-query LUTs broadcast into " +
      "the corpus map; the per-query top-k is the bounded-heap " +
      "partial aggregate, never a candidate-sorting window") {
    val p = plan("q106_ivfpq_batch")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    // candidate fan-out joins must be broadcast-hash (probed on
    // centroid_id, lut on query_id), never shuffled corpus joins
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("centroid_id")),
      s"probed-cell join must broadcast:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("query_id")),
      s"LUT join must broadcast:\n$p")
    // the per-query top-k must be TopK.perGroup's bounded heap: map-side
    // partial collect_top_k means the candidate shuffle carries <= k rows
    // per query per partition (a window here would sort every candidate)
    assert(p.contains("ObjectHashAggregate") && p.contains("collect_top_k"),
      s"expected bounded-heap per-query top-k:\n$p")
    assert(p.contains("partial_collect_top_k"),
      s"expected MAP-SIDE partial top-k before the shuffle:\n$p")
    // budget: tiny-side builds (probe window, LUT packing) + ONE
    // candidate exchange for the top-k agg; more means the corpus shuffled
    val nonBroadcast = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(nonBroadcast <= 7,
      s"corpus must not shuffle ($nonBroadcast shuffle exchanges):\n$p")
  }

  test("q111_ivfpq_batch_rerank: shortlist + queries broadcast into the " +
      "vector fetch, per-query exact top-k on the bounded heap — the " +
      "corpus never shuffles") {
    val p = plan("q111_ivfpq_batch_rerank")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("vec_id")),
      s"vector fetch must broadcast the shortlist:\n$p")
    assert(p.contains("partial_collect_top_k"),
      s"expected bounded-heap per-query exact top-k:\n$p")
  }

  test("q107_topk_pergroup: bounded-heap per-group top-k — ONE exchange " +
      "(the k-rows-per-group-per-partition aggregate shuffle), no Window, " +
      "scan pruned to the 4 used columns") {
    val p = plan("q107_topk_pergroup")
    assert(p.contains("ObjectHashAggregate") &&
      p.contains("partial_collect_top_k"),
      s"expected map-side bounded-heap top-k:\n$p")
    assert(!p.contains("Window"), s"must not fall back to a window:\n$p")
    val nonBroadcast = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(nonBroadcast <= 1,
      s"expected the single aggregate exchange ($nonBroadcast):\n$p")
    assert(!p.contains("text#"), s"scan must not read the text column:\n$p")
  }

  test("q108_label_centroids: ONE exchange, fused quant_mean_agg — the " +
      "corpus never posexplodes dims×; the only Generate is the " +
      "group-sized post-aggregate explode") {
    val p = plan("q108_label_centroids")
    assert(p.contains("quant_mean_agg") && p.contains("partial_"),
      s"expected the fused typed centroid aggregate with partials:\n$p")
    assert(!p.contains("PosExplode"),
      s"corpus-side posexplode fan-out must stay dead:\n$p")
    assert(p.linesIterator.count(_.contains("Generate")) <= 1,
      s"only the post-agg group-sized explode may Generate:\n$p")
    val nonBroadcast = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(nonBroadcast <= 1,
      s"expected the single partials exchange ($nonBroadcast):\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("q109_kmeans_step: window-free map assignment, one partials " +
      "exchange for the means, tiny seed/means join — the corpus never " +
      "shuffles") {
    val p = plan("q109_kmeans_step")
    assert(!p.contains("Window"),
      s"assignment must stay the array_max map, never a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    assert(p.contains("partial_"),
      s"expected map-side partial mean aggregation:\n$p")
    // means partials (1) + at most the centroids×dims seed/means join
    // sides (2) — anything more means the corpus shuffled
    val nonBroadcast = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(nonBroadcast <= 3,
      s"corpus must not shuffle ($nonBroadcast shuffle exchanges):\n$p")
  }

  test("q110_semdedup_trained: trained-centroid dedup keeps q99's shape " +
      "— cell-keyed equi pair join, no cartesian, window-free corpus " +
      "assignment (the only windows rank nothing corpus-sized)") {
    val p = plan("q110_semdedup_trained")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    assert(p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("centroid_id")),
      s"expected a centroid_id-keyed pair join:\n$p")
    assert(!p.contains("Window"),
      s"assignment must stay the array_max map on both passes:\n$p")
  }

  test("q112_hard_negatives: queries broadcast into one corpus scan, " +
      "per-query top-k on the bounded heap (no Window), corpus never " +
      "shuffles except the k-per-partition aggregate") {
    val p = plan("q112_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the query batch to broadcast:\n$p")
    assert(p.contains("partial_collect_top_k"),
      s"expected map-side bounded-heap top-k:\n$p")
    assert(!p.contains("Window"), s"must not fall back to a window:\n$p")
    val nonBroadcast = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(nonBroadcast <= 2,
      s"expected only the spread + heap exchanges ($nonBroadcast):\n$p")
  }

  test("q113_ann_multiprobe: fused one-loop signatures, probe expansion " +
      "joins as a (band, sig) equi-join — never a cartesian — and " +
      "verify sees candidates without an intermediate distinct") {
    val p = plan("q113_ann_multiprobe")
    // the fused rhp_probes expression runs inside the CHECKPOINTED index
    // build (both join sides consume the one materialized relation), so
    // the final plan must show the probe explode over the materialized
    // probes column and NO signature recompute
    assert(p.contains("explode(probes"),
      s"expected the probe expansion over the materialized index:\n$p")
    assert(!p.contains("rhp_"),
      s"signature pipeline must not recompute past the checkpoint:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    assert(p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) &&
        l.contains("band") && l.contains("sig")),
      s"expected a (band, sig)-keyed candidate equi-join:\n$p")
    // the survivor distinct is the ONLY aggregate over pair ids — the
    // candidate relation itself must not hash-aggregate before verify
    val verifyJoins = p.linesIterator.count(l =>
      l.contains("Join") && l.contains("vec_a"))
    assert(verifyJoins >= 1, s"expected vec re-fetch joins:\n$p")
    // the checkpoint carries the cap window's explicit (band, sig) hash
    // partitioning AND sort, so the candidate join's BUILD side plans
    // exchange-free: the only non-broadcast exchanges left are the probe
    // side (explode rewrites sig — unavoidable) and the tiny survivor
    // distinct
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(exchanges <= 2,
      s"build side must reuse the checkpointed (band, sig) layout " +
        s"($exchanges exchanges):\n$p")
  }

  test("q114_embed_outliers: centroids and cuts broadcast back into the " +
      "corpus scan; the only windows run over the per-label cosine GRID, " +
      "never corpus rows") {
    val p = plan("q114_embed_outliers")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast joins for centroids/cuts:\n$p")
    // grid windows partition by (label) AFTER a (label, cos) aggregate —
    // the aggregate bounds window input at the distinct-value grid
    assert(p.contains("Window"), s"expected the grid cumulative window:\n$p")
    assert(p.contains("partial_"),
      s"grid aggregation must have map-side partials:\n$p")
  }

  test("q115_containment: shared q34 core — the df-capped shingle " +
      "relation is CHECKPOINTED once (the shh window runs in the " +
      "checkpoint build, not per consumer: pre-r12 the sizes aggregate " +
      "and both self-join sides each re-sorted and re-windowed the full " +
      "shingle relation), no cartesian, no window in the consumer plan") {
    val p = plan("q115_containment")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    assert(p.contains("ExistingRDD"),
      s"expected the checkpointed capped shingle relation:\n$p")
    assert(!p.contains("Window"),
      s"the df-cap window must not re-run per consumer:\n$p")
    assert(!p.contains("lang#"), s"scan must not read unused columns:\n$p")
  }

  test("q116_boilerplate: boilerplate set and per-source doc counts " +
      "broadcast; every non-broadcast exchange keys on the line hash or " +
      "doc id, never line text; scan pruned to (doc_id, source, text)") {
    val p = plan("q116_boilerplate")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"boilerplate set + doc counts must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no sort-merge join of the line relation:\n$p")
    assert(!p.contains("lang#") && !p.contains("n_chars#"),
      s"scan must not read unused columns:\n$p")
    // the line TEXT never enters a shuffle: every hashpartitioning keys
    // on compact attributes (source/doc_id/lh)
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("__line")),
      s"line text must not be a shuffle key:\n$p")
    assert(p.contains("partial_"),
      s"expected map-side partial aggregation:\n$p")
  }

  test("q117_semantic_decontam: benchmark broadcasts into one corpus " +
      "scan (no corpus shuffle for scoring); best-match pick is an " +
      "aggregate with partials, not a window") {
    val p = plan("q117_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the benchmark set to broadcast:\n$p")
    assert(!p.contains("Window"), s"must not fall back to a window:\n$p")
    assert(p.contains("partial_"),
      s"expected map-side partial aggregation:\n$p")
    val nonBroadcast = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(nonBroadcast <= 2,
      s"expected only the spread + final-agg exchanges ($nonBroadcast):\n$p")
  }

  test("q119_proportional_sample: selection rides the bounded heap (no " +
      "corpus window); apportionment frame + allocation broadcast; the " +
      "only corpus exchanges are the mass partials and the heap") {
    val p = plan("q119_proportional_sample")
    assert(p.contains("partial_collect_top_k"),
      s"expected map-side bounded-heap selection:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"allocation must broadcast into the selection:\n$p")
    // windows only on the stratum-cardinality apportionment frame: no
    // window may consume the documents scan directly
    assert(!p.linesIterator.exists(l => l.contains("Window") &&
      l.contains("doc_id")), s"no corpus-row windows:\n$p")
  }

  test("q120_vocab_coverage: ONE corpus exchange (token partials); " +
      "top-v cut is TakeOrdered, not a global sort") {
    val p = plan("q120_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected bounded top-v cut:\n$p")
    assert(p.contains("partial_count"),
      s"expected map-side token-count partials:\n$p")
    // top-v and total both read the CACHED frequency frame (count
    // DISTINCT exchange plan ids — the cached subtree prints per reader)
    assert(p.contains("InMemoryTableScan"),
      s"frequency frame must come from the cache:\n$p")
    val nonBroadcast = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast"))
      .map(_.replaceAll(".*plan_id=", "")).toSet.size
    // token agg + the single-partition v-row window/total exchanges; the
    // corpus-sized relation crosses only the first
    assert(nonBroadcast <= 3,
      s"too many exchanges ($nonBroadcast):\n$p")
  }

  test("q121_corpus_drift: ONE corpus exchange (conditional-sum token " +
      "aggregate), totals broadcast, top-50 via TakeOrdered") {
    val p = plan("q121_corpus_drift")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected bounded top-50 cut:\n$p")
    assert(p.contains("partial_sum"),
      s"expected map-side conditional-sum partials:\n$p")
    // the report and totals both read the CACHED frequency frame — the
    // corpus token aggregate must run once (its exchange appears under
    // every InMemoryRelation print, so count DISTINCT plan ids)
    assert(p.contains("InMemoryTableScan"),
      s"frequency frame must come from the cache:\n$p")
    val nonBroadcast = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast"))
      .map(_.replaceAll(".*plan_id=", "")).toSet.size
    assert(nonBroadcast <= 2,
      s"expected token agg (+ total) exchanges only ($nonBroadcast):\n$p")
    assert(!p.contains("Window"), s"no windows in the drift path:\n$p")
  }

  test("q122_funnel: 3-type IN filter reaches the scan (prep fragment); " +
      "checkpointed user_id partitioning feeds every stage — the main " +
      "plan is exchange-FREE; no per-user event sort (window)") {
    // the checkpoint hides the scan from the main plan, so the scan
    // shape is gated on the factored prep fragment
    val prep = Advanced.funnelPrep(spark, sf())
      .queryExecution.explainString(SimpleMode)
    assert(prep.contains("PushedFilters") && prep.contains("In(event_type"),
      s"combined stage filter must reach the parquet scan:\n$prep")
    assert(!prep.contains("props#"),
      s"scan must not read unused event columns:\n$prep")
    val p = plan("q122_funnel")
    assert(!p.contains("Window"),
      s"funnel must not sort per-user histories:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"stage joins must be user_id equi-joins:\n$p")
    // the whole funnel hangs off ONE checkpointed repartition(user_id):
    // stage aggregates and joins all require only user_id clustering,
    // which the captured HashPartitioning satisfies — the single data
    // exchange lives inside the checkpoint job, so the main plan must
    // carry NONE (a cache() barrier fails this under AQE: the cached
    // plan is its own AdaptiveSparkPlan and reports unknown
    // partitioning, re-shuffling every stage)
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(exchanges == 0,
      s"q122 main plan must reuse the checkpointed partitioning " +
        s"($exchanges exchanges):\n$p")
  }

  test("q123_retention: cohort groupBy/join/distinct reuse the " +
      "checkpointed user_id partitioning — only the calendar-sized " +
      "(cohort, offset) rollup may exchange") {
    val p = plan("q123_retention")
    assert(!p.contains("event_type#") && !p.contains("props#"),
      s"scan must not read unused event columns:\n$p")
    assert(p.contains("partial_"),
      s"expected map-side partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"cohort join must be a user_id equi-join:\n$p")
    // hash partitioning on user_id clusters the (user, cohort, offset)
    // distinct too (key-subset clustering), so the ONLY exchange left
    // is the final rollup's
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(exchanges <= 1,
      s"q123 must only exchange the calendar-sized rollup ($exchanges):\n$p")
  }

  test("q124_source_dedup_rate: keep-flag join + rollup are equi-joins/" +
      "aggregates with partials; no window (sort-free keep-flags)") {
    val p = plan("q124_source_dedup_rate")
    assert(!p.contains("Window"),
      s"keep-flags must stay sort-free (aggregate argmin):\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"flag/source joins must be equi-joins:\n$p")
    assert(p.contains("partial_"),
      s"expected map-side partials:\n$p")
  }

  test("q125_shard_manifest: pure map + ONE exchange (the shard " +
      "aggregate with partial bit_xor/sum)") {
    val p = plan("q125_shard_manifest")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"manifest is scan -> map -> aggregate only:\n$p")
    val nonBroadcast = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(nonBroadcast == 1,
      s"expected exactly the shard-agg exchange ($nonBroadcast):\n$p")
    assert(p.contains("partial_bit_xor"),
      s"checksum must combine map-side:\n$p")
  }

  test("q126_join_preflight: both sides reduce to cached m-bounded " +
      "registers before any combination — no raw-table join anywhere") {
    val p = plan("q126_join_preflight")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"raw sides must never join:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"register relations must come from the cache:\n$p")
    assert(p.contains("partial_max"),
      s"register build must combine map-side:\n$p")
  }

  test("q127_kmeans_two_steps: both iterations are broadcast-centroid " +
      "maps — the corpus shuffles ZERO times; only the two tiny " +
      "(centroid, pos) mean exchanges and centroid assembly remain") {
    val p = plan("q127_kmeans_two_steps")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    // assignment must not window over corpus rows
    assert(!p.linesIterator.exists(l => l.contains("Window") &&
      l.contains("vec_id")), s"no corpus-row windows:\n$p")
    // every non-broadcast exchange carries centroid-sized relations
    // (mean partials / centroid assembly), never the corpus: none may
    // partition on vec_id
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("vec_id")),
      s"corpus must not shuffle:\n$p")
    assert(p.contains("partial_"),
      s"mean moves must combine map-side:\n$p")
  }

  test("q118_estimated_pairs: no shingle-verify join — the pair relation " +
      "joins only the doc-sized signature frame; cached signatures reused " +
      "across banding and both pair sides") {
    val p = plan("q118_estimated_pairs")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    // the estimate path must NOT re-touch the shingle relation after
    // signatures: no join keyed on the shingle hash
    assert(!p.linesIterator.exists(l => l.contains("Join") &&
      l.contains("shh")), s"no shingle-verify join in the estimate path:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"signature frame must come from the cache:\n$p")
  }

  test("q129_pmi_bigrams: bounded-heap top-k (no global sort), totals " +
      "broadcast, pair counts aggregated with map-side partials") {
    val p = plan("q129_pmi_bigrams")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a bounded heap, not sort+limit:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"single-row totals must broadcast:\n$p")
    assert(p.contains("partial_count"),
      s"pair counts need map-side partials:\n$p")
  }

  test("q132_dup_clusters: LSH pairs feed components — banded (band, sig) " +
      "candidate join present, no cartesian, histogram aggregates have " +
      "map-side partials") {
    // at test SF the pair relation is under components()'s 2M-edge
    // driver-union-find gate, so the LSH join ran eagerly at plan build
    // and the final plan aggregates the labeled relation; the LSH join
    // shape itself is gated on q41 (same annPairs plan)
    val p = plan("q132_dup_clusters")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    assert(p.contains("partial_count"),
      s"histogram aggregates need map-side partials:\n$p")
  }

  test("q135_seq_packing: ONE shard exchange feeds the per-shard packing " +
      "window — no join, no second shuffle, schema pruned to (doc_id, " +
      "text)") {
    val p = plan("q135_seq_packing")
    assert(!p.contains("Join"), s"packing must not join:\n$p")
    assert(p.contains("Window"), s"expected the per-shard running sum:\n$p")
    assert(!p.contains("lang#") && !p.contains("source#"),
      s"scan must not read unused document columns:\n$p")
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(exchanges <= 1,
      s"packing is one shard exchange ($exchanges):\n$p")
  }

  test("q130_novelty: one shingle-hash join (batch side keyed on shh), " +
      "base side distinct has map-side partials, no cartesian") {
    val p = plan("q130_novelty")
    assert(!p.contains("CartesianProduct"), s"no cartesian products:\n$p")
    assert(p.linesIterator.exists(l => l.contains("Join") &&
      l.contains("shh")), s"expected the shh-keyed novelty join:\n$p")
    assert(p.contains("partial_"),
      s"base distinct / per-doc counts need map-side partials:\n$p")
  }

  test("q136_dsir_select: model row broadcasts into a projection scorer; " +
      "top-k is TakeOrdered (never a global sort); only the bounded " +
      "distribution aggregates shuffle") {
    val p = plan("q136_dsir_select")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must fuse to TakeOrdered:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"the one-row log-ratio model must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing corpus-sized may sort-merge:\n$p")
    val shuffles = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(shuffles <= 2,
      s"only the buckets-row distribution aggregation shuffles ($shuffles):\n$p")
  }

  test("q137_token_budget: the grid cut broadcasts back onto the corpus " +
      "(no corpus-wide sort-merge join, no corpus-wide window except " +
      "the boundary band)") {
    val p = plan("q137_token_budget")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the (grp, score) grid must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never sort-merge against the grid:\n$p")
    // the grid is checkpointed once; only the boundary-band window may
    // shuffle in the final plan
    val shuffles = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(shuffles <= 1,
      s"only the boundary-band window may shuffle ($shuffles):\n$p")
  }

  test("q138_quality_rules: projection-only rule vector — ZERO exchanges, " +
      "schema pruned to (doc_id, text)") {
    val p = plan("q138_quality_rules")
    val shuffles = p.linesIterator.filter(_.contains("Exchange")).size
    assert(shuffles == 0, s"rule filter must be a pure map ($shuffles):\n$p")
    assert(!p.contains("Join"), s"rule filter must not join:\n$p")
    assert(!p.contains("lang#") && !p.contains("source#"),
      s"scan must not read unused document columns:\n$p")
  }
}
