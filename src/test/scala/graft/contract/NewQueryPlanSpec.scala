package graft.contract

import graft.{SparkEntry, SparkTestBase}

/** Plan pins for the late-round-8 queries (the TpchPlanSpec pattern):
  * each assertion states the scale property the query's prose claims, so
  * a regression is a test failure instead of prose drift.
  */
class NewQueryPlanSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("sample_mixture is map-only on the document side: broadcast threshold join, no window, no sort-merge") {
    val p = plan("sample_mixture")
    assert(p.contains("BroadcastHashJoin"), "threshold table should attach by broadcast")
    assert(!p.contains("SortMergeJoin"), "no data-proportional relation may shuffle for a join")
    assert(!p.contains("Window"), "mixture sampling must not rank inside strata (that's sample_stratified)")
  }

  test("text_inverted_index is one aggregation pass: no join, no window") {
    val p = plan("text_inverted_index")
    assert(!p.contains("Join"), "posting-list build needs no join")
    assert(!p.contains("Window"), "posting-list build needs no window")
  }

  test("text_phrase_search pre-filters the token stream by broadcast before the adjacency join") {
    val p = plan("text_phrase_search")
    assert(p.contains("BroadcastHashJoin"), "phrase words must attach by broadcast (map-side pre-filter)")
    assert(!p.contains("Window"), "posting intersection needs no window")
  }

  test("evt_range_frame runs both frame aggregates in a single window pass") {
    val p = plan("evt_range_frame")
    val windows = "(?m)^\\s*[*+:\\-() 0-9]*Window ".r.findAllIn(p).size
    assert(windows == 1, s"expected ONE Window operator (shared frame), got $windows in:\n$p")
  }

  test("evt_grouping_sets expands all three sets in one pass") {
    val p = plan("evt_grouping_sets")
    val expands = "Expand".r.findAllIn(p).size
    assert(expands == 1, s"expected ONE Expand operator (single-scan grouping sets), got $expands")
    assert(!p.contains("Union"), "grouping sets must not plan as a union of re-scans")
  }

  test("ccm_simplex_tp computes the kNN once: a single pair join serves all six horizons") {
    val p = plan("ccm_simplex_tp")
    val joins = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(p).size
    assert(joins == 1, s"expected ONE pair join (tp-invariant neighbor set), got $joins in:\n$p")
    assert(p.contains("Generate stack"), "horizons must unpivot in-stage via stack, not per-tp re-joins")
  }

  test("ccm_simplex prunes each per-E top-k map-side before its exchange") {
    val p = plan("ccm_simplex")
    val limits = "WindowGroupLimit".r.findAllIn(p).size
    // 4 E values x (partial + final) WindowGroupLimit
    assert(limits >= 8, s"expected partial+final WindowGroupLimit per E (>=8), got $limits")
  }

  test("ccm_fnn_dim prunes each per-E top-1 map-side before its exchange") {
    val p = plan("ccm_fnn_dim")
    // 4 E values, each with a partial and a final WindowGroupLimit
    val partial = "WindowGroupLimit .*Partial".r.findAllIn(p).size
    val fin = "WindowGroupLimit .*Final".r.findAllIn(p).size
    assert(partial >= 4 && fin >= 4, s"expected partial+final WindowGroupLimit per E, got $partial partial, $fin final")
  }

  test("text_para_dedup is one explode + one hash-partition window: no join anywhere") {
    val p = plan("text_para_dedup")
    assert(!p.contains("Join"), "paragraph dedup must not join — it is the exact-dedup shuffle shape")
    val windows = "(?m)^\\s*[*+:\\-() 0-9]*Window ".r.findAllIn(p).size
    assert(windows == 1, s"expected ONE window (block-hash keep-first), got $windows")
  }

  test("sketch_kmv_setops' post-sketch algebra is constant-size: no data-proportional join") {
    // the sketch build itself is materialized behind localCheckpoints (its
    // TopK window runs inside the checkpoint job), so the visible plan is
    // the set algebra — which must be all broadcast/cross over k-row
    // relations, never a shuffle join
    val p = plan("sketch_kmv_setops")
    assert(!p.contains("SortMergeJoin"), "set algebra over sketches must not shuffle-join")
  }

  test("ann_mips is a single pair join; the reduction rank adds no second join") {
    val p = plan("ann_mips")
    val joins = "(SortMergeJoin|ShuffledHashJoin)".r.findAllIn(p).size
    assert(joins <= 1, s"expected at most one data-proportional join, got $joins")
  }

  test("evt_changepoint and stream_cusum never join — pure window pipelines") {
    assert(!plan("evt_changepoint").contains("Join"), "CUSUM closed form is windows only")
  }

  test("evt_ses_forecast's kernel join is the only join") {
    val p = plan("evt_ses_forecast")
    val joins = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(p).size
    assert(joins == 1, s"expected exactly the one bounded kernel join, got $joins")
  }

  test("text_vocab_coverage windows only the count-of-counts histogram, never the per-term vocab") {
    val p = plan("text_vocab_coverage")
    // two aggregate layers (term counts -> frequency histogram), each
    // partial+final, must sit BELOW the first Window operator
    val firstWindow = p.indexOf("Window")
    assert(firstWindow >= 0, "coverage needs a running-sum window")
    val aggsBelow = "HashAggregate".r.findAllIn(p.substring(firstWindow)).size
    assert(aggsBelow >= 4, s"the per-term and histogram aggregations must run below the window, got $aggsBelow")
    assert(!p.contains("SortMergeJoin"), "thresholds must attach without a data-proportional shuffle join")
  }

  test("evt_acf pairs all lags in ONE window pass over the day spine (leads collapse)") {
    val p = plan("evt_acf")
    val windows = "(?m)^\\s*[*+:\\-() 0-9]*Window ".r.findAllIn(p).size
    assert(windows == 1, s"expected ONE Window (all lead columns share the frame), got $windows in:\n$p")
    assert(p.contains("Generate stack"), "per-lag pairs must unpivot via stack, not per-lag re-scans")
  }

  test("evt_survival never shuffle-joins: max-day attaches by broadcast, at-risk is one tiny window") {
    val p = plan("evt_survival")
    assert(!p.contains("SortMergeJoin"), "corpus max day must attach by broadcast, not a shuffle join")
    val windows = "(?m)^\\s*[*+:\\-() 0-9]*Window ".r.findAllIn(p).size
    assert(windows == 1, s"expected ONE window (reverse cumsum over the lifetime histogram), got $windows")
  }

  test("evt_benford is join-free: digit histogram + a 9-row total window") {
    val p = plan("evt_benford")
    assert(!p.contains("Join"), "first-digit audit needs no join")
  }

  test("evt_periodogram's DFT join is bounded: no shuffle join, no window") {
    val p = plan("evt_periodogram")
    assert(!p.contains("SortMergeJoin"), "the freqs x spine product is day-bounded, never a data shuffle join")
    assert(!p.contains("Window"), "the DFT is a pure join-aggregate, no window pass")
  }

  test("graph_cluster_coeff credits triangles via explode, not three re-joins") {
    val p = plan("graph_cluster_coeff")
    assert(p.contains("Generate explode"), "per-vertex credit must explode the 3 corners in-stage")
    assert(!p.contains("CartesianProduct"), "wedge and closure joins must stay equi-keyed")
  }

  test("graph_jaccard excludes existing edges with an anti join and never goes cartesian") {
    val p = plan("graph_jaccard")
    assert(p.contains("LeftAnti"), "non-edge filtering must be a left-anti join against the pair list")
    assert(!p.contains("CartesianProduct"), "wedge enumeration must stay equi-keyed on the center")
  }

  test("text_collocations attaches the token total by broadcast and ranks once") {
    val p = plan("text_collocations")
    assert(!p.contains("CartesianProduct"), "the 1-row total must attach by broadcast nested loop")
    val windows = "(?m)^\\s*[*+:\\-() 0-9]*Window ".r.findAllIn(p).size
    assert(windows == 1, s"expected ONE top-k window over support-filtered pairs, got $windows")
  }

  test("text_bpe_pairs is explode + count + one top-k window: no join") {
    val p = plan("text_bpe_pairs")
    assert(!p.contains("Join"), "pair counting needs no join")
    val windows = "(?m)^\\s*[*+:\\-() 0-9]*Window ".r.findAllIn(p).size
    assert(windows == 1, s"expected ONE top-k window, got $windows")
  }

  test("vec_silhouette's centroid distances come from a broadcast product, never a shuffle join") {
    val p = plan("vec_silhouette")
    assert(!p.contains("SortMergeJoin"), "centroids are k-bounded and must broadcast")
    assert(!p.contains("Window"), "the per-cluster mean is a hash aggregate, no window")
  }

  test("dedup_minhash_est runs the exact intersection ONCE per candidate (single projection)") {
    val p = plan("dedup_minhash_est")
    val intersects = "array_intersect".r.findAllIn(p).size
    // n_common feeds n_union, est/exact/err — all must read one shared
    // array_intersect, not re-evaluate it per consumer
    assert(intersects <= 2, s"array_intersect must not be duplicated per consumer, got $intersects")
  }

  test("ann_sq_topk broadcasts queries and stats: the code scan never shuffle-joins") {
    val p = plan("ann_sq_topk")
    assert(!p.contains("SortMergeJoin"), "queries and per-dim stats are bounded relations — broadcast only")
  }

  test("mm_phash never goes cartesian: the dup join is (ahash, n_frames)-bucketed") {
    val p = plan("mm_phash")
    assert(!p.contains("CartesianProduct"), "dup candidates must come from the hash-bucket equi join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "dup candidates must come from the hash-bucket equi join")
  }

  test("text_keyphrases segments with per-doc windows and vocabulary-keyed joins only") {
    val p = plan("text_keyphrases")
    assert(!p.contains("CartesianProduct"), "word-stat joins key on the word, never all-pairs")
  }

  test("ccm_smap_coeffs is the ccm_smap pair shape: series-keyed pair join, no cartesian") {
    val p = plan("ccm_smap_coeffs")
    assert(!p.contains("CartesianProduct"), "pairs must be generated per series (equi-join on skey)")
  }

  test("graph_ppr's per-round joins are vertex-keyed (no cartesian, no nested loop on data)") {
    val p = plan("graph_ppr")
    assert(!p.contains("CartesianProduct"), "contribution flow must equi-join on vertex ids")
  }

  test("ann_ivfsq candidates come from probed lists: cid-keyed joins, no data shuffle-scan join") {
    val p = plan("ann_ivfsq")
    assert(!p.contains("CartesianProduct"), "only the k-bounded centroid product may be nested-loop")
  }

  test("dedup_ensemble adds each signal as one keyed join — never a second candidate generation") {
    val p = plan("dedup_ensemble")
    val intersects = "array_intersect".r.findAllIn(p).size
    assert(intersects <= 2, s"the exact intersection must not re-evaluate per consumer, got $intersects")
    assert(!p.contains("CartesianProduct"), "signals attach by doc_id equi-joins")
  }

  test("evt_stl_anomaly stays user-keyed: decompose windows + rank windows, no cartesian") {
    val p = plan("evt_stl_anomaly")
    assert(!p.contains("CartesianProduct"))
  }

  test("graph_assortativity is one co-moment aggregation over the edge join: no window") {
    val p = plan("graph_assortativity")
    assert(!p.contains("Window"), "five co-moments need only a hash aggregate")
  }

  test("sketch_hll_error's three register passes all partially aggregate before their exchanges") {
    val p = plan("sketch_hll_error")
    assert(!p.contains("Window"), "register maxima are hash aggregates, never windows")
    assert(!p.contains("CartesianProduct"))
  }
}
