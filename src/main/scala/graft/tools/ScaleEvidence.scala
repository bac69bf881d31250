package graft.tools

import graft.{Queries, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale evidence for the LSH/dedup/packing designs: runs the
  * corpus-shaped headline queries on the sf0.1 documents/events tables
  * and on an N-fold salted replication of them (N = 10 by default, 100
  * for the deep tier), and reports wall-times (Bench's protocol: cache
  * cleared, warm-up, GC-drained timed runs, median) plus the q39
  * pointer-jumping round count at both scales.
  *
  * The replicated corpus is N copies of documents; copy k > 0 shifts
  * `doc_id` by k*10^8 and suffixes every word with `ck`. Word-salting
  * maps each copy's shingle space bijectively, so within-copy Jaccard
  * relations (and therefore the near-dup pair/cluster/duplicate-span
  * structure) are preserved exactly while NO cross-copy pair is a
  * near-dup: the Nx corpus has exactly Nx the documents, vocabulary,
  * pairs, and clusters — the linear-growth shape the operators claim to
  * scale with.
  *
  * Usage: `runMain graft.tools.ScaleEvidence [sfDir] [outDir] [factor]
  * [queryCsv]` (defaults /root/testdata/sf0.1, /tmp/graft-scale-x10,
  * 10, all queries). Prints a markdown table for SURVEY.md's appendix.
  */
object ScaleEvidence {

  private val QueryNames = Seq("q36_minhash_lsh", "q38_ngram_jaccard",
    "q39_dup_clusters", "q45_vocab_encode", "q46_sequence_pack",
    "q48_repetition", "q49_tfidf_keywords", "q57_span_dedup",
    "q64_pii_redact", "q65_group_quantiles", "q67_heavy_hitters",
    "q69_decontaminate",
    // round-8 late additions: the batch and the resident index both grow
    // 10x in q83 (the %3 split rides the replicated ids); q80/q81/q82
    // are scan-shaped (profile Expand, hash filter, gate projection)
    "q80_data_profile", "q81_mixture_sample", "q82_filter_cascade",
    "q83_incremental_dedup",
    // round 12: the suffix-array dedup tier — 10x the docs means 10x the
    // positional grams through the fingerprint-keyed argmin; the
    // replicated copies are token-salted so gram identity stays 1x-like
    "q128_substring_dedup",
    // round 12: the hashed-n-gram linear quality scorer — pure scan
    // (one narrow projection, no shuffle), q82's growth class
    "q129_model_quality",
    // round 9: the composed cascade joins q82's projection with q48's
    // two n-gram aggregations — both components' growth already
    // measured alone, this row measures their doc-keyed join
    "q84_cascade_repetition",
    // round 11: the last headline dedup query without a measured tier.
    // Its 8×8-bit banding has only 256 hash values per band level, so
    // bucket occupancy grows ∝ corpus and `capBuckets(1000)` starts
    // truncating around ~256k docs — the 10× point (50k) is still well
    // inside the regime; past it the production knob is wider bands
    // (the q43 SRP posture), not a bigger cap
    "q37_simhash",
    // round 11: the remaining documents-family headliners — term
    // frequency (vocabulary AND corpus 10× under the word salt) and the
    // stratified sample (langs unsalted: same strata, 10× rows each)
    "q30_term_frequency", "q47_balanced_sample",
    // round 11 late: the sharded inverted index — 10× docs AND 10×
    // vocabulary under the word salt (each copy's tokens are disjoint),
    // so posting ROWS grow 10× at unchanged per-row array size; and the
    // length-blocked fuzzy match — the token-vocabulary side grows 10×
    // while the dictionary side stays the FIXED canonical part vocab
    // (replication copies `part` verbatim), i.e. the production shape:
    // corpus grows, dictionary doesn't
    "q98_posting_lists", "q96_fuzzy_match",
    // round 11 late: collocation mining — 10x docs, 10x the bigram AND
    // unigram vocabularies under the word salt (each copy's phrase
    // structure replicated verbatim); the top-20 heap and the two
    // broadcast vocab joins are what the tier exercises
    "q100_collocations",
    // round 11 late: the bloom-prefiltered decontamination — probe AND
    // training sides grow 10x under the salt (disjoint per-copy gram
    // spaces), so the driver-built bloom is 10x the probe grams and the
    // scan-speed prune + survivor semi-join both grow linearly
    "q106_bloom_prefilter",
    // round 11 session 4: ranked retrieval — the FIXED probe queries
    // match only copy-0 words under the salt (corpus grows, the query
    // doesn't: the production retrieval posture), so the tier measures
    // the 10x tf build + broadcast probe prune at fixed match work;
    // the prefix-filter join — within-copy Jaccard preserved, no
    // cross-copy pairs, per-shingle df UNCHANGED (disjoint salted
    // vocabularies) at 10x the shingle rows: candidates grow linearly,
    // the zero-loss analogue of q38's df-capped tier; and the LM count
    // tables — 10x corpus AND 10x vocabulary per order through the
    // one-scan explode + map-side combine
    "q112_bm25_retrieval", "q114_prefix_filter_join", "q116_lm_gram_counts",
    // round 11 session 4 late: cluster representatives — within-copy
    // near-dup structure preserved under the salt, so clusters (and the
    // per-cluster max_by) grow 10x in count at unchanged size; novelty —
    // first-occurrence min over a 10x shingle vocabulary at unchanged
    // per-shingle df, i.e. the vocabulary aggregate + doc-keyed count
    // both grow linearly
    "q122_cluster_representatives", "q123_novelty_score",
    // round 11 session 4 late: BPE — the corpus-sized word-count scan
    // grows 10x AND the salted vocabulary grows 10x (each copy's words
    // are distinct strings with identical char statistics scaled 10x,
    // so the same merges win by 10x the weight); rounds fixed at 5
    "q124_bpe_merges",
    // ... and the encode half: trains the same 5 rounds, then maps the
    // 10x vocabulary through the merge chain and sums symbol counts
    "q125_bpe_encode",
    // scan-shaped: one map-side-combined pass to source-sized rows
    "q127_temperature_mixture",
    // round 13: the GRADED 16-bit banding form (FNV token hashes, exact
    // slice keys) — 10x the docs through 4 band levels of 65 536 slice
    // values each: random bucket occupancy stays ~256x below q37's
    // 8-bit regime, so the collision mass the band join materializes
    // grows near-linearly here where the 8-bit row grows ~quadratically
    "q130_simhash16",
    // round 13: perplexity scoring — 10x corpus AND 10x gram vocabulary
    // under the word salt (each copy's trigram/bigram/unigram spaces are
    // disjoint with identical count structure), so the vocabulary-sized
    // score table grows 10x while per-gram join fan-in is UNCHANGED; the
    // corpus-sized trigram stream and the doc-keyed aggregate grow 10x
    "q131_lm_perplexity",
    // round 13: DSIR selection — the lang column rides the replication
    // verbatim, so the target/raw split replicates per copy; the bucket
    // table stays FIXED at 4096 rows (hashed features from 10x the
    // vocabulary fold into the same buckets), its broadcast and the
    // top-100 heap are scale-invariant, and only the feature stream +
    // the (doc, sums) exchange grow 10x
    "q133_dsir_selection",
    // round 13 late: containment — q38's inverted-index class (within-
    // copy containment structure preserved, per-shingle df unchanged
    // under the salt); the quota selector — scoring is q129's scan
    // class, the rank window deepens 10x per source at a fixed source
    // set with group-limit pruning; the attribute table — its three
    // graded inputs' growth classes joined doc_id-keyed; the composed
    // pipeline — q36's pair relation + the attribute joins + one CASE
    "q134_containment_join", "q135_source_quota",
    "q136_attribute_table", "q137_pipeline_select",
    // round 14: the 32-bit FNV band rung — 2 levels of 2^32 slice
    // values: random collision mass drops another ~65 536× below q130's
    // 16-bit regime, the rung that flattens q130's 100× band-join cost
    "q141_simhash32",
    // round 14: selection over the WRITTEN attribute artifact — run 1
    // pays the tag job (q136 + q36 + the clustered write), the timed
    // runs measure what a recipe costs FOREVER AFTER: a narrow column
    // scan, vs q137's full re-tag per invocation; and the post-pipeline
    // quota — q137's plan + a semi join + the pruned ranking window
    "q138_attr_select", "q140_quota_after_select",
    // round 14 late: the two-batch incremental build + selection — run 1
    // pays the two append jobs (memoized), timed runs price the
    // selection scan, q138's class; the [append-100] variant below
    // prices the per-shard append itself
    "q142_incremental_attrs",
    // round 17: the dataset-assembly trio. q144 — within-copy near-dup
    // structure is preserved under the salt (q39's class), so clusters
    // grow 10x in count at unchanged size and the comp-keyed label/size
    // join grows linearly; q145 — the token BUDGET is fixed while the
    // corpus grows, the production posture (a 10x corpus competes for
    // the same budget): the scored scan and the two-level prefix sum
    // grow 10x, the kept set shrinks relatively; q146 — pure per-row
    // generate, q82's scan class at ~2.4 output rows per doc
    "q144_cluster_split", "q145_token_budget_select", "q146_context_windows",
    // round 18: assembly over the artifact — run 1 pays the memoized tag
    // job (q136 + q36 + clusterLabels + the clustered write), the timed
    // runs price what ANY (budget, split) recipe costs forever after: a
    // 5-column scan of doc_id-clustered parquet + the bounded two-level
    // prefix machinery (q138's decoupling, extended to assembly); the
    // classifier lang-id — q129's scan class at ~4x the feature count
    // (char trigrams vs tokens+bigrams): gram explode is narrow, ONE md5
    // per gram feeds all 5 weight lookups, the exchange carries
    // (doc_id, 5 sums)
    "q149_assembly_select", "q150_lang_classifier",
    // round 19: assembly over the INCREMENTAL artifact — run 1 pays
    // ensureBuilt (two appendBatch halves + compaction over the
    // replicated corpus: q142's growth class, labels riding the
    // admission pair stream), the timed runs price the recipe: attrs
    // scan + the min-resolved label join + q145's prefix machinery
    "q151_incr_assembly")

  /** Event-table queries measured against the 10x events replication.
    * Note on q63: event replication shifts user/event ids but keeps
    * `props` verbatim, so the item-transition graph keeps its ~100 nodes
    * while edge weights grow ~10x — exactly the realistic shape (events
    * grow, item vocabulary doesn't), measuring the edge-build window +
    * fixed-size iterations. */
  private val EventQueryNames = Seq("q54_asof_join", "q55_interval_join",
    "q56_auto_interval_join", "q58_asof_native", "q63_pagerank",
    "q76_retention_cohorts",
    // 10x the events at 10x the users: both the HLL sketch pass (fixed
    // 4 KiB partials) and the exact-distinct verify grow linearly
    "q79_hll_distinct",
    // round 11: session windows — 10x the users at the same per-user
    // session structure (ts verbatim under the id shift)
    "q52_session_window",
    // round 11: KMV audience overlap — 10x the users per type; the
    // sketch pass ships fixed k-long partials at both scales, the exact
    // pair-join verifier is what grows
    "q87_audience_overlap",
    // round 11 late: the funnel — 10x the users at unchanged per-user
    // event structure (ts verbatim under the id shift), so each copy
    // converts identically and every step relation grows exactly 10x;
    // and the CMS daily counts — the (type, day) key space is UNCHANGED
    // under replication while every count grows 10x, so this measures
    // the fixed-size sketch pass + the calendar-keyed exact pass alone
    "q88_funnel", "q89_cms_daily_counts",
    // round 11 late: triangle counts — the item graph is corpus-size-
    // invariant under event replication (items live in props, verbatim),
    // so like q63 this measures the edge-build window + fixed graph work
    "q90_triangles",
    // round 11 late: the ordered recurrence — 10x users at unchanged
    // per-user history depth; the one exchange carries 3 longs/event
    // with no map-side combine (inherent to sequential state), so this
    // row measures exactly that linear shuffle term
    "q92_user_ewma",
    // round 11 late additions:
    // - SCD2: 10x users at unchanged per-user item streams (props
    //   verbatim under the id shift) — 10x the change intervals through
    //   the same one-exchange two-window plan
    // - BFS: the item graph is corpus-size-invariant (q63/q90 posture) —
    //   measures the edge-build window + fixed frontier rounds
    // - MAD outliers: value column verbatim, so the histogram KEY space
    //   is unchanged while every count grows 10x — isolates the one
    //   corpus scan + map-side partial aggregation
    // - rolling 1h: 10x users at unchanged per-user event times — 10x
    //   the range-frame windows at the same per-partition depth
    "q94_scd2_history", "q95_bfs_hops", "q97_mad_outliers",
    "q99_rolling_1h",
    // round 11 late: gap filling — 10x users at unchanged per-user
    // spans (ts verbatim), so the hourly grid and its co-keyed left
    // join both grow exactly 10x
    "q105_gap_fill",
    // round 11 session 4: the transition matrix — 10x users at
    // unchanged per-user sequences (ts/type verbatim under the id
    // shift), so the user-keyed lag exchange grows 10x while the
    // (prev, cur) key space — and everything after the partial
    // aggregate — is size-invariant
    "q113_event_transitions",
    // round 11 session 4: weighted SSSP — the item graph is corpus-
    // size-invariant under event replication (q63/q90/q95 posture):
    // measures the edge-build window + weight aggregate + fixed
    // frontier rounds
    "q117_weighted_sssp",
    // round 11 late: the interval-overlap join — 10x users on the SAME
    // time span means cross-user session pairs (the OUTPUT) grow
    // ~quadratically (~100x): this row measures an output-bound
    // operator honestly, with the bucketed ownership join keeping the
    // CANDIDATE work at per-bucket occupancy, never sessions x sessions
    "q111_overlap_join",
    // round 11 late: exact regression aggregates — values and ts
    // verbatim under replication, so every per-group sum grows 10x
    // through one map-side-combined scan (q97's posture without the
    // histogram: pure partial aggregation)
    "q107_linreg")

  /** Lineitem-table queries (q68's two-pass histogram) measured against a
    * 10x lineitem replication: copy k shifts `l_orderkey` only — q68
    * reads just `l_extendedprice`, so the replication is a pure 10x of
    * the value distribution (same histogram shape, 10x the population in
    * every bucket — the linear-growth claim under test). */
  private val LineitemQueryNames = Seq("q68_global_quantiles",
    // round 13: the graded approx-distinct — 10x rows per returnflag;
    // the HLL++ estimate path ships fixed-size register partials at any
    // scale, the exact count_distinct verify is the branch that grows
    // (q79's posture: the verifier is the cost, the sketch is the product)
    "q19_approx_distinct",
    // round 11: the relational headliners whose only table is lineitem —
    // the copy shift touches l_orderkey alone. q01's flag/status groups
    // and q16's pushed filters see 10x the rows; q17's per-partkey dedup
    // windows DEEPEN 10x (partkeys unshifted) — exactly the
    // WindowGroupLimit partial-pruning claim under test
    "q01_pricing_summary", "q16_filter_scan", "q17_dedup_window",
    // round 11 late: the weighted systematic sample — 10x the corpus
    // through the two-level prefix scan; the bucket-totals relation is
    // size-FIXED by construction, so the tier measures the scan +
    // intra-bucket windows alone (the walk itself replicates per copy:
    // okey shifts keep each copy's weight walk disjoint)
    "q102_weighted_sample",
    // round 11 late: the salted join — the fact side grows 10x while
    // the part dimension stays fixed (copied verbatim) and is
    // replicated x8 by the salt: the tier measures exactly the salted
    // shuffle the operator exists to spread
    "q103_salted_join")

  /** Orders-table queries (q77's sketch-pruned quantiles) against a 10x
    * orders replication (o_orderkey/o_custkey shift, values verbatim —
    * q77 reads only o_totalprice, so 10x the population at the same
    * distribution: the sketch partials and the per-percentile bands stay
    * fixed-size, only the scans grow). */
  private val OrdersQueryNames = Seq("q77_kll_quantiles",
    // round 11 session 4 late: multiset ops — 10x custkey multiplicities
    // per copy through the per-side count aggregates and replicate-rows
    "q121_multiset_ops",
    // round 11: orders-only relational headliners (o_custkey shifts with
    // the copy, so q02's month buckets and q13's per-customer windows
    // replicate at 10x customers with unchanged per-customer depth)
    "q02_monthly_rollup", "q13_window_frames",
    // round 11 late: the decorrelated scalar subqueries — both
    // aggregate joins see 10x customers at 10x orders (custkey shifts),
    // every decorrelated aggregate partial-combines map-side
    "q108_scalar_subquery",
    // round 11 late: the full-outer join — 10x customers on both
    // aggregated sides of the co-partitioned FullOuter SMJ
    "q93_full_outer")

  /** Queries joining orders TO lineitem — both shifts move the shared
    * orderkey by the same k*CopyShift, so copy k's orders join exactly
    * copy k's lineitems: 10x the join on both sides, zero cross-copy
    * matches. */
  private val JoinQueryNames = Seq("q04_priority_revenue",
    // round 11 session 4: the Q21-shaped EXISTS chain — 10x lineitem
    // and orders in lockstep (copy k's lines correlate only with copy
    // k's lines on the shifted orderkey), the supplier dimension fixed:
    // all three decorrelated joins grow linearly, the LIMIT heap stays
    // 10 rows
    "q120_exists_chain")

  /** Customer-dimension queries: 10x customers against the FIXED nation
    * dimension (copied verbatim) — q109's per-nation LATERAL top-2
    * windows deepen 10x, the WindowGroupLimit partial-pruning claim. */
  private val CustDimQueryNames = Seq("q109_lateral_topk",
    // and the distribution windows: 10x customers deepen each segment's
    // window 10x on one keyed exchange (no group-limit pruning possible —
    // every row is output; the honest per-row-window class)
    "q110_window_distribution")

  /** Queries joining orders TO customer (the custkey shifts move in
    * lockstep, so copy k's changeset merges into copy k's snapshot):
    * the CDC merge — 10x the snapshot AND 10x the changeset through the
    * same one full-outer join, every arm (update/delete/insert/
    * pass-through) replicated per copy. */
  private val CustOrderQueryNames = Seq("q101_cdc_merge",
    // round 11 session 4 late: the bucketed join — 10x BOTH bucketed
    // writes (the pre-paid shuffle) and the co-located read join; the
    // tier measures write+read per invocation honestly, the plan pin
    // holds the no-join-exchange fact at any scale
    "q126_bucketed_join",
    // the constraint audit ALSO reads lineitem — generated by the
    // lineitem wants() clause below
    "q104_constraint_audit")

  /** Embeddings-based rows, against the signed-permutation replication
    * ([[generateEmbeddings]]). q41 (probes are the FIXED `vec_id < 5`
    * set — only copy 0 after the shift) and q43 (hyperplanes are seeded
    * literals) run as-is. q42/q59/q66 derive centroids/seeds/codebook
    * samples from `vec_id % 50` on the input table, which on a 10x
    * replication would grow those relations 10x with the corpus and the
    * broadcast-argmax work 100x — a harness artifact, not the operators'
    * linear-at-fixed-k claim — so they are measured through their
    * id-capped fixed-k forms (`VectorQs.ivfQuery/kmeansQuery/ivfpqQuery`
    * with `idCap = CopyShift`: centroids from copy 0 only, a no-op
    * filter at 1x). */
  private val EmbeddingVariants: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
    "q41_cosine_topk" -> ((s: SparkSession, d: String) =>
      Queries.byName("q41_cosine_topk").fn(s, d)),
    "q43_embedding_near_dup" -> ((s: SparkSession, d: String) =>
      Queries.byName("q43_embedding_near_dup").fn(s, d)),
    // round 17: k-center runs as-is — K=8 is FIXED, the seed (min
    // vec_id) lives in copy 0, and each round is one scan + TakeOrdered
    // over the replicated corpus: the claim is K linear scans
    "q147_kcenter_coreset" -> ((s: SparkSession, d: String) =>
      Queries.byName("q147_kcenter_coreset").fn(s, d)),
    // round 18: the K=64 rung of the carried-dmin Gonzalez loop
    // (verdict ask #4) — the claim is per-round cost FLAT in the round
    // number (ONE new-center dot folds into the persisted dmin each
    // round), where the round-17 `least(d(c1)…d(cm))` recompute form
    // grew linearly in m; per-round walls go to stderr for the
    // §2.0.2 flatness table
    "q147_kcenter_coreset [K=64]" -> ((s: SparkSession, d: String) =>
      graft.queries.VectorQs.kcenterQuery(s, d, 64,
        (r, secs) => System.err.println(f"[kcenter] round $r%3d: $secs%.2f s"))),
    "q42_ann_ivf [fixed-k]" -> ((s: SparkSession, d: String) =>
      graft.queries.VectorQs.ivfQuery(s, d, idCap = CopyShift)),
    "q59_kmeans_lloyd [fixed-k]" -> ((s: SparkSession, d: String) =>
      graft.queries.VectorQs.kmeansQuery(s, d, idCap = CopyShift)),
    "q66_ann_ivfpq [fixed-k]" -> ((s: SparkSession, d: String) =>
      graft.queries.VectorQs.ivfpqQuery(s, d, idCap = CopyShift, memoSuffix = "_sx")),
    // q78 both ways: the DEFAULT form's centroid set grows with the
    // corpus — that is SemDeDup's own posture (cells ∝ corpus keeps
    // per-cell occupancy, hence pair work, linear; the N·k brute-force
    // argmax is the component a production deployment hands to a coarse
    // quantizer, as q42's IVF probe does). The fixed-k form isolates the
    // complementary claim (assignment linear at fixed k) at the price of
    // 10x-denser cells, i.e. ~10x the within-cell pairs per row.
    "q78_semantic_dedup [k∝N]" -> ((s: SparkSession, d: String) =>
      Queries.byName("q78_semantic_dedup").fn(s, d)),
    "q78_semantic_dedup [fixed-k]" -> ((s: SparkSession, d: String) =>
      graft.queries.VectorQs.semanticDedupQuery(s, d, idCap = CopyShift, memoSuffix = "_sx")),
    // the k∝N regime through the two-level coarse quantizer — the form
    // that stays feasible when N·k flat assignment doesn't (100× tier)
    "q78_semantic_dedup [coarse]" -> ((s: SparkSession, d: String) =>
      graft.queries.VectorQs.semanticDedupCoarseQuery(s, d, memoSuffix = "_sx")),
    // round 11 late: the kNN graph in its fixed-k form (same harness
    // rationale as q42: the %50 centroid relation must not grow with the
    // replication) — 10x the vectors through 10x-denser cells, i.e. the
    // within-cell pair work grows ~100x/cells: the honest fixed-k cost
    "q91_knn_graph [fixed-k]" -> ((s: SparkSession, d: String) =>
      graft.queries.VectorQs.knnGraphQuery(s, d, idCap = CopyShift, memoSuffix = "_sx")),
    // round 11 session 4: per-dim feature stats — a pure scan + 64-key
    // partial aggregate; the tier isolates the explode + map-side
    // combine term (the exchange carries 64 rows per task at any scale)
    "q115_feature_stats" -> ((s: SparkSession, d: String) =>
      Queries.byName("q115_feature_stats").fn(s, d)),
    // same posture, (dim x bucket) keys instead of dim
    "q118_feature_histogram" -> ((s: SparkSession, d: String) =>
      Queries.byName("q118_feature_histogram").fn(s, d)),
    // cluster purity in its fixed-k form (the %50 centroid relation
    // must not grow with the replication — q42's harness rationale):
    // 10x vectors through the N·k argmax + id-keyed label join, with
    // the purity windows on the (cells x labels) frame at both scales
    "q119_cluster_purity [fixed-k]" -> ((s: SparkSession, d: String) =>
      graft.queries.VectorQs.clusterPurityQuery(s, d, idCap = CopyShift, memoSuffix = "_sx")),
    // round 13: q43's band-width ladder — the SRP analog of q37's
    // documented widths: wider bands = fewer, more selective tables
    // from the same 64 packed sign bits (16-bit: 4 tables x 65 536
    // buckets; 32-bit: 2 x 4.3G), dividing random bucket occupancy at
    // the price of recall shifting toward higher-cosine pairs; the
    // pair counts per width print below so the trade is data
    "q43_embedding_near_dup [16-bit]" -> ((s: SparkSession, d: String) =>
      srpAtWidth(s, d, 16)),
    "q43_embedding_near_dup [32-bit]" -> ((s: SparkSession, d: String) =>
      srpAtWidth(s, d, 32)),
    // round 14: the L-table recall amplifier — 4 matrices × 8 tables;
    // band rows grow 4× q43's (O(vectors × 32)), candidates grow ~4×
    // linearly in L (SURVEY §2.0.2's curve), verify stays pair-bounded
    "q139_srp_multi_lsh" -> ((s: SparkSession, d: String) =>
      Queries.byName("q139_srp_multi_lsh").fn(s, d)))

  /** Build q43's plan at a non-default SRP band width (the knob is read
    * at plan-build time; restored immediately after the build). */
  private def srpAtWidth(s: SparkSession, d: String, bits: Int): DataFrame = {
    s.conf.set("spark.graft.srp.bandBits", bits.toString)
    try Queries.byName("q43_embedding_near_dup").fn(s, d)
    finally s.conf.unset("spark.graft.srp.bandBits")
  }

  /** Documents-table variant measurements: the q37 wider-band form —
    * the documented production knob for the 8-bit level's quadratic
    * collision mass (16-bit bands: 4 levels of 65 536 hash values, so
    * random bucket occupancy drops ~256× while deterministic recall
    * shrinks to Hamming ≤ 3). The graded query is byte-unchanged (it
    * reads `spark.graft.simhash.bandBits`, default 8); this row measures
    * the knob's effect, and main() prints found-pair counts per width so
    * the recall side of the trade is data, not assertion. */
  private val DocumentVariants: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q37_simhash [16-bit bands]" -> ((s: SparkSession, d: String) =>
      graft.queries.DedupQs.simhashQuery(s, d, bitsPerBand = 16)),
    // round 14: the incremental-tagging claim priced directly — append a
    // FIXED 100-doc shard to the (memoized) resident artifact of this
    // corpus and return its attribute rows. 1× vs 10×/100× residents
    // measures what a new shard costs as the corpus grows: per-doc
    // signals and the frozen-LM score join are O(batch), only the dup
    // probe's band join sees the resident index (bucket-bounded). Each
    // invocation appends ~100 docs with ever-fresh ids (resident growth
    // across the 3 timed runs is ≤ 300 docs — noise at every tier).
    "q142_incremental_attrs [append-100]" -> ((s: SparkSession, d: String) => {
      val root = graft.pipeline.IncrAttrTable.ensureBuilt(s, d)
      // First call per (session, corpus) — medianTime's UNTIMED warmup —
      // runs three extra settle appends: the two corpus-half builds leave
      // tens of GB of shuffle files whose ContextCleaner deletion is
      // ASYNC (the q39 lesson in BASELINE.md), and without the settle the
      // first timed appends absorb that debt (measured 33.8/20.9/18.9 s
      // declining at 100× right after a fresh build vs 7.2/7.2/6.8 in a
      // long-running loop). Steady-state shard cost is the quantity this
      // row prices; the build's one-time debt is the build's.
      if (appendWarmed.add((s, d)))
        (1 to 3).foreach { _ =>
          val sq = appendSeq.incrementAndGet()
          graft.pipeline.IncrAttrTable.appendBatch(s, root,
            graft.Tables.documents(s, d).filter(col("doc_id") < 100)
              .withColumn("doc_id",
                col("doc_id") + lit(10000000000L + sq * 1000000L)))
          System.gc()
        }
      val seq = appendSeq.incrementAndGet()
      // the shard must be CHEAP to produce — a real shard arrives as
      // input data; an id-range filter prunes to copy-0's first files
      // via parquet min/max stats at every tier (an orderBy+limit here
      // measured as a global top-100 over the full corpus re-run per
      // subplan reference, swamping the append itself at 100×)
      val batch = graft.Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        .withColumn("doc_id",
          col("doc_id") + lit(10000000000L + seq * 1000000L))
      graft.pipeline.IncrAttrTable.appendBatch(s, root, batch)
      // through the live-generation resolver, never the bare tree: a
      // crash between pointer swap and GC briefly leaves two
      // generations under root/attrs, and the bare read would union
      // (double-count) them
      graft.pipeline.IncrAttrTable.attrsOf(s, root)
        .filter(col("doc_id") >= 10000000000L + seq * 1000000L)
    }))

  private val appendSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val appendWarmed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(SparkSession, String)]()

  /** Per-copy id shift. Cross-copy disjointness — the whole point of the
    * replication — requires every shifted id column to stay below it. */
  private[tools] val CopyShift = 100000000L

  /** `factor` salted copies of `table` into `outDir` (skipped if
    * present): copy 0 verbatim, copies 1..factor-1 through `salt(k)`.
    * One shared skeleton so the documents and events evidence corpora
    * can't diverge. The id-shift guard runs here, on the cache-miss path
    * only — an existing replication already passed it, and re-scanning
    * the base corpus for a full max() on every invocation would tax
    * exactly the repeated runs this cache exists for. Copies write in
    * batches of 10 (append) so a 100x replication never builds a
    * 100-way union plan.
    */
  private def replicate(spark: SparkSession, outDir: String, table: String,
      base: org.apache.spark.sql.DataFrame, idCols: Seq[String], factor: Int,
      salt: Int => org.apache.spark.sql.DataFrame): Unit = {
    require(factor >= 2 && factor.toLong * CopyShift <= Long.MaxValue / 2,
      s"unsupported replication factor $factor")
    val path = new org.apache.hadoop.fs.Path(s"$outDir/$table.parquet")
    if (path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)) return
    requireIdsBelowShift(base, idCols)
    (0 until factor).map(k => if (k == 0) base else salt(k))
      .grouped(10).zipWithIndex.foreach { case (batch, i) =>
        batch.reduce(_ union _).repartition(32)
          .write.mode(if (i == 0) "overwrite" else "append").parquet(path.toString)
      }
  }

  /** Guard the disjointness precondition: a corpus whose ids reach the
    * shift would make copies COLLIDE, and the cross-copy joins that
    * appear would masquerade as superlinear operator growth. */
  private def requireIdsBelowShift(df: org.apache.spark.sql.DataFrame,
      idCols: Seq[String]): Unit = {
    val maxes = df.select(idCols.map(c => max(col(c)).as(c)): _*).head()
    idCols.zipWithIndex.foreach { case (c, i) =>
      // max() over an empty/all-null column is NULL — surface that as the
      // precondition failure it is, not a getLong NPE
      val m = maxes.getAs[java.lang.Long](i)
      require(m != null, s"$c has no non-null values — cannot validate the copy shift")
      require(m < CopyShift,
        s"$c reaches $m >= copy shift $CopyShift — replication would collide")
    }
  }

  private def generate(spark: SparkSession, sfDir: String, outDir: String,
      factor: Int): Unit = {
    val base = Tables.documents(spark, sfDir)
    replicate(spark, outDir, "documents", base, Seq("doc_id"), factor, k =>
      base.select(
        (col("doc_id") + lit(k * CopyShift)).as("doc_id"),
        regexp_replace(col("text"), "([A-Za-z0-9]+)", "$1c" + k).as("text"),
        col("lang"), col("source"), col("n_chars")))
  }

  /** q120's supplier dimension, copied VERBATIM — same fixed-dimension
    * rationale as [[generatePart]]/[[generateNation]]. */
  private def generateSupplier(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(s"$outDir/supplier.parquet")
    if (path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)) return
    graft.Tables.read(spark, sfDir, "supplier").write.parquet(path.toString)
  }

  /** q109's nation dimension, copied VERBATIM — same rationale as
    * [[generatePart]]: the dimension is fixed, the fact side grows. */
  private def generateNation(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(s"$outDir/nation.parquet")
    if (path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)) return
    graft.Tables.read(spark, sfDir, "nation").write.parquet(path.toString)
  }

  /** q96's dictionary side, copied VERBATIM: the canonical vocabulary is
    * a fixed reference relation — replication grows the corpus it is
    * matched against, never the dictionary itself. */
  private def generatePart(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(s"$outDir/part.parquet")
    if (path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)) return
    graft.Tables.read(spark, sfDir, "part").write.parquet(path.toString)
  }

  /** 10x events: copy k shifts user_id and event_id, so every copy keeps
    * its per-user temporal structure exactly (same as-of matches, same
    * interval pairs, 10x of each) while no cross-copy row can ever join —
    * the linear-growth shape the temporal joins claim.
    */
  private def generateEvents(spark: SparkSession, sfDir: String, outDir: String,
      factor: Int): Unit = {
    val base = graft.Tables.read(spark, sfDir, "events")
    replicate(spark, outDir, "events", base, Seq("event_id", "user_id"), factor, k =>
      base.select(
        (col("event_id") + lit(k * CopyShift)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * CopyShift)).as("user_id"),
        col("event_type"), col("value"), col("props")))
  }

  private def generateLineitem(spark: SparkSession, sfDir: String, outDir: String,
      factor: Int): Unit = {
    val base = graft.Tables.read(spark, sfDir, "lineitem")
    replicate(spark, outDir, "lineitem", base, Seq("l_orderkey"), factor, k =>
      base.withColumn("l_orderkey", col("l_orderkey") + lit(k * CopyShift)))
  }

  /** 10x customers: c_custkey shifts in lockstep with orders' o_custkey,
    * so copy k's order-derived changeset lands on copy k's snapshot rows
    * (q101's arm selectors are mod-10/mod-7 of the key — the 10^8 shift
    * preserves mod 10 exactly and permutes mod 7 per copy, keeping each
    * arm's ~density; insert keys stay inside their copy's id band). */
  private def generateCustomer(spark: SparkSession, sfDir: String, outDir: String,
      factor: Int): Unit = {
    val base = graft.Tables.read(spark, sfDir, "customer")
    replicate(spark, outDir, "customer", base, Seq("c_custkey"), factor, k =>
      base.withColumn("c_custkey", col("c_custkey") + lit(k * CopyShift)))
  }

  private def generateOrders(spark: SparkSession, sfDir: String, outDir: String,
      factor: Int): Unit = {
    val base = graft.Tables.read(spark, sfDir, "orders")
    replicate(spark, outDir, "orders", base, Seq("o_orderkey", "o_custkey"), factor, k =>
      base.withColumn("o_orderkey", col("o_orderkey") + lit(k * CopyShift))
        .withColumn("o_custkey", col("o_custkey") + lit(k * CopyShift)))
  }

  /** 10x embeddings: copy k shifts `vec_id` and transforms every vector
    * by a per-copy SIGNED COORDINATE PERMUTATION (a deterministic
    * orthogonal map: permute the 64 coordinates, flip a seeded subset of
    * signs). Within a copy, every pairwise dot product — and so every
    * cosine, SRP bucket structure, and centroid geometry — is preserved
    * (the same map is applied to both sides; float accumulation order
    * changes by at most the permutation, ~1e-7 relative, far below any
    * 0.45-style threshold). ACROSS copies the maps differ, so cross-copy
    * cosines collapse to ~N(0, 1/64) noise — no cross-copy near-dups,
    * no cross-copy top-k hits: exactly 10x the similarity structure,
    * the linear shape the vector operators claim. Copy 0 is verbatim,
    * so id-capped fixed-k parameter relations are byte-identical to the
    * 1x run's. */
  private[tools] def generateEmbeddings(spark: SparkSession, sfDir: String, outDir: String,
      factor: Int): Unit = {
    val base = graft.Tables.read(spark, sfDir, "embeddings")
    replicate(spark, outDir, "embeddings", base, Seq("vec_id"), factor, { k =>
      val rnd = new scala.util.Random(4200 + k)
      val perm = rnd.shuffle((0 until 64).toVector)
      val sign = Vector.fill(64)(if (rnd.nextBoolean()) 1.0f else -1.0f)
      val xform = udf((v: Seq[Float]) =>
        if (v == null) null
        else Vector.tabulate(v.size)(i => sign(i) * v(perm(i))))
      base.select((col("vec_id") + lit(k * CopyShift)).as("vec_id"),
        xform(col("embedding")).as("embedding"), col("label"))
    })
  }

  private def medianTime(spark: SparkSession, name: String, dir: String, runs: Int,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
    spark.sharedState.cacheManager.clearCache()
    fn(spark, dir).write.format("noop").mode("overwrite").save() // warm-up
    val ts = (1 to runs).map { _ =>
      System.gc()
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[scale] $name @ $dir runs: ${ts.map(t => f"$t%.2f").mkString(", ")}")
    ts.sorted.apply(runs / 2)
  }

  /** recall@5 of an ANN variant against exact brute-force top-5 on the
    * same dir (the probe set is fixed to copy 0, so ground truth at N×
    * ranks the probes against the full N× corpus — index-quality
    * evidence that a time ratio alone can't give: densified cells could
    * keep the RUNTIME linear while recall quietly collapsed). */
  private def recallAt5(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame): Double = {
    val e = graft.Tables.read(spark, dir, "embeddings")
    val exact = graft.ops.VectorOps.bruteForceTopK(
        e.select(col("vec_id").as("id"), col("embedding").as("vec")),
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        k = 5)
      .select(col("qid"), col("id").as("vec_id"))
    val got = fn(spark, dir).filter(col("rn") <= 5).select("qid", "vec_id")
    val hits = got.join(exact, Seq("qid", "vec_id"), "left_semi").count()
    hits.toDouble / exact.count()
  }

  private def ccRounds(spark: SparkSession, dir: String): Int = {
    val edges = Queries.byName("q36_minhash_lsh").fn(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    graft.ops.DedupOps.connectedComponentsWithRounds(edges)._2
  }

  /** `runMain graft.tools.ScaleEvidence [sfDir] [outDir] [factor] [queryCsv]`
    * — factor defaults to 10; queryCsv restricts the measured set (the
    * 100x tier runs a pared list so the expensive iterative queries
    * don't dominate the harness).
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft-scale-x10")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val filter = args.lift(3).map(_.split(",").toSet)
    val spark = Tables.configure(SparkSession.builder().appName("scale-evidence"), "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // opt-in knobs for variant measurements (e.g. the multi-probe recall
    // evidence in SURVEY §2.0.2): forwarded into the session so the
    // graded query builders pick them up
    sys.env.get("SPARK_GRAFT_IVF_PROBES")
      .foreach(p => spark.conf.set("spark.graft.ivf.probes", p))

    // generate only the tables the selected queries read — the 100×
    // deep tier replicates documents alone without paying for a 100×
    // events/lineitem/orders/embeddings write it never scans
    // a CSV entry selects a query by bare name ("q42_ann_ivf", every
    // variant) or by variant name with spaces and non-ASCII stripped
    // ("q78_semantic_dedup[kN]" for the [k∝N] form — ∝ doesn't survive
    // every shell/sbt arg hop, so matching is ASCII-normalized)
    def norm(x: String): String = x.replaceAll("[^\\x21-\\x7E]", "")
    def selects(fs: Set[String], n: String): Boolean =
      fs.contains(n.split(' ').head) || fs.map(norm).contains(norm(n))
    def wants(names: Seq[String]): Boolean =
      names.exists(n => filter.forall(selects(_, n)))
    if (wants(QueryNames ++ DocumentVariants.map(_._1)))
      generate(spark, sfDir, outDir, factor)
    if (wants(Seq("q96_fuzzy_match", "q103_salted_join")))
      generatePart(spark, sfDir, outDir)
    if (wants(EventQueryNames)) generateEvents(spark, sfDir, outDir, factor)
    if (wants(LineitemQueryNames ++ JoinQueryNames ++ Seq("q104_constraint_audit")))
      generateLineitem(spark, sfDir, outDir, factor)
    if (wants(OrdersQueryNames ++ JoinQueryNames ++ CustOrderQueryNames))
      generateOrders(spark, sfDir, outDir, factor)
    if (wants(CustOrderQueryNames ++ CustDimQueryNames))
      generateCustomer(spark, sfDir, outDir, factor)
    if (wants(CustDimQueryNames)) generateNation(spark, sfDir, outDir)
    if (wants(Seq("q120_exists_chain"))) generateSupplier(spark, sfDir, outDir)
    if (wants(EmbeddingVariants.map(_._1))) generateEmbeddings(spark, sfDir, outDir, factor)
    val n1 = Tables.documents(spark, sfDir).count()
    val nX = if (wants(QueryNames ++ DocumentVariants.map(_._1)))
      Tables.documents(spark, outDir).count() else -1L

    val work: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      (QueryNames ++ EventQueryNames ++ LineitemQueryNames ++ OrdersQueryNames ++
        JoinQueryNames ++ CustOrderQueryNames ++ CustDimQueryNames)
        .map(n => n -> Queries.byName(n).fn) ++ EmbeddingVariants ++ DocumentVariants
    val selected = work.filter { case (n, _) => filter.forall(selects(_, n)) }
    val rows = selected.map { case (name, fn) =>
      val t1 = medianTime(spark, name, sfDir, runs = 3, fn)
      val tX = medianTime(spark, name, outDir, runs = 3, fn)
      (name, t1, tX)
    }
    val measureCc = filter.forall(_.contains("q39_dup_clusters"))
    val ccPair = if (measureCc) Some((ccRounds(spark, sfDir), ccRounds(spark, outDir))) else None

    // recall@5 for the ANN rows (exact brute force is feasible at every
    // replication size — one linear scan per measurement)
    val annRecall = Seq(
      "q42_ann_ivf [fixed-k]" -> EmbeddingVariants.toMap.apply("q42_ann_ivf [fixed-k]"),
      "q66_ann_ivfpq [fixed-k]" -> EmbeddingVariants.toMap.apply("q66_ann_ivfpq [fixed-k]"))
      .filter { case (n, _) => filter.forall(selects(_, n)) }
      .map { case (n, fn) =>
        (n, recallAt5(spark, sfDir, fn), recallAt5(spark, outDir, fn))
      }

    println(s"\ndocs: 1x=$n1  ${factor}x=$nX")
    println(s"| query | 1x (s) | ${factor}x (s) | ${factor}x/1x |")
    println("|---|---|---|---|")
    rows.foreach { case (n, t1, tX) =>
      println(f"| $n | $t1%.2f | $tX%.2f | ${tX / t1}%.1fx |")
    }
    ccPair.foreach { case (r1, rX) => println(s"| q39 CC rounds | $r1 | $rX | — |") }
    if (annRecall.nonEmpty) {
      println(s"| query | recall@5 1x | recall@5 ${factor}x |")
      println("|---|---|---|")
      annRecall.foreach { case (n, r1, rX) =>
        println(f"| $n | $r1%.2f | $rX%.2f |")
      }
    }
    // the recall side of the band-width trade: verified J>=0.8 pairs
    // found per width at both scales (equal counts = the wider band
    // lost nothing on this corpus; a gap = the Hamming-(4..15) pairs
    // only 8-bit banding reaches deterministically)
    if (filter.forall(selects(_, "q37_simhash [16-bit bands]"))) {
      println("| simhash width | pairs 1x | pairs " + factor + "x |")
      println("|---|---|---|")
      Seq(8, 16).foreach { bits =>
        val n1p = graft.queries.DedupQs.simhashQuery(spark, sfDir, bits).count()
        val nXp = graft.queries.DedupQs.simhashQuery(spark, outDir, bits).count()
        println(s"| ${bits}-bit bands | $n1p | $nXp |")
      }
    }
    // the GRADED FNV band ladder's recall side (q130 = 16-bit, q141 =
    // 32-bit): verified J>=0.8 pairs found per width at both scales —
    // the pair-loss measurement the 32-bit promotion is graded against,
    // recorded the same way the 16-bit one was
    if (filter.forall(selects(_, "q141_simhash32"))) {
      println("| fnv simhash width | pairs 1x | pairs " + factor + "x |")
      println("|---|---|---|")
      Seq(16, 32).foreach { bits =>
        val n1p = graft.queries.DedupQs.simhashFnvQuery(spark, sfDir, bits).count()
        val nXp = graft.queries.DedupQs.simhashFnvQuery(spark, outDir, bits).count()
        println(s"| ${bits}-bit bands | $n1p | $nXp |")
      }
    }
    // the recall side of the SRP band-width ladder: verified cos>=0.45
    // pairs per width at both scales (q37's table for the vector family)
    if (filter.forall(selects(_, "q43_embedding_near_dup [16-bit]"))) {
      println("| srp width | pairs 1x | pairs " + factor + "x |")
      println("|---|---|---|")
      Seq(8, 16, 32).foreach { bits =>
        val n1p = srpAtWidth(spark, sfDir, bits).count()
        val nXp = srpAtWidth(spark, outDir, bits).count()
        println(s"| ${bits}-bit bands | $n1p | $nXp |")
      }
    }
    // coarse-vs-flat cell agreement (flat is the ground truth and is
    // N·k — only measured where that is feasible: always at 1x, at the
    // replicated dir only for factor <= 10)
    if (filter.forall(selects(_, "q78_semantic_dedup [coarse]"))) {
      def agreement(dir: String, probes: Int): Double = {
        val flat = graft.queries.VectorQs.semanticCells(spark, dir, memoSuffix = "_agx")
          .select(col("id"), col("cell").as("flat_cell"))
        val coarse = graft.queries.VectorQs.semanticCellsCoarse(spark, dir,
            memoSuffix = "_agx", probes = probes)
          .select(col("id"), col("cell").as("coarse_cell"))
        val joined = flat.join(coarse, "id")
        joined.filter(col("flat_cell") === col("coarse_cell")).count().toDouble /
          joined.count()
      }
      Seq(1, 3).foreach { p =>
        val a1 = agreement(sfDir, p)
        val aX = if (factor <= 10) f"${agreement(outDir, p)}%.3f" else "n/a (flat infeasible)"
        println(f"| q78 coarse(probe-$p)-vs-flat cell agreement | $a1%.3f | $aX |")
      }
    }
    spark.stop()
  }
}
