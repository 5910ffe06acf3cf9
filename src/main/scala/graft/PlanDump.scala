package graft

import java.nio.file.{Files, Paths}

/** Writes PLANS.md in the working directory (where `RegistrySpec` reads
  * it): formatted physical plans for the queries whose shape matters at
  * 100TB, so plan regressions are reviewable in git.
  * Usage: runMain graft.PlanDump [sfDir]
  */
object PlanDump {
  val interesting: Seq[(String, String)] = Seq(
    "q_join_broadcast" ->
      """Star join: every dim side must be a BroadcastExchange (no shuffle
        |of the lineitem fact scan for the joins; the only Exchange is the
        |final aggregation's).""".stripMargin,
    "q_flagship_dedup_explode" ->
      """The reference's full ETL (nest -> dup -> window dedup -> explode
        |-> project). Shuffles: collect_list agg on l_orderkey, the
        |window's hashpartitioning(block_id), and the output sort. The
        |orderBy is eliminated under count() (EliminateSorts) but appears
        |here because Verify writes ordered parquet.""".stripMargin,
    "q_topk_group" ->
      """rank<=k over a window must show WindowGroupLimit (Spark >= 3.5):
        |per-partition top-k before the shuffle, so only k rows per key
        |cross the wire.""".stripMargin,
    "q_join_asof" ->
      """Single-shuffle as-of join (union + last_value over user_id) — no
        |range cross-product; cost O(|L|+|R|) through one Window.""".stripMargin,
    "q_dedup_minhash" ->
      """MinHash LSH: the full 8-min signature is ONE narrow compiled-UDF
        |pass over the repartitioned doc scan (no signature shuffle);
        |candidates come from an equi-join on (band, bkey); verification
        |joins only the candidate set back to the per-doc shingle arrays
        |(array_intersect, no shingle explode). The candidate side is
        |un-hinted since r12 — it is corpus-scaled, so stats/AQE
        |broadcast it while it fits and degrade to a shuffle past the
        |8GB broadcast limit.""".stripMargin,
    "q_dedup_ngram_jaccard" ->
      """All-pairs baseline: the df-cap window and BOTH self-join sides
        |must feed from one ReusedExchange over the shingle frame; the
        |pair-count groupBy is the only other shuffle.""".stripMargin,
    "q_embed_cosine_dup" ->
      """Label-blocked pair join with the fused graft_fxdot kernel: no
        |posexplode, no 64x component rows — the dot product runs inside
        |the join's project. (The DuckDB oracle still uses the exploded
        |formulation; fixed-point sums make them bit-equal.)""".stripMargin,
    "q_ann_ivf" ->
      """IVF ANN: centroids and probe lists broadcast (BroadcastExchange
        |only); the corpus is shuffled exactly once — the nearest-centroid
        |max_by aggregation (map-side combining) — and probe-time search
        |is an equi-join on centroid_id, never a full-corpus scan per
        |probe.""".stripMargin,
    "q_skew_salted_join" ->
      """Salted fact-dim join: the dim side is exploded x saltBuckets and
        |the fact side carries a per-row salt, so the join key is
        |(key, salt) — a hot key fans out across saltBuckets reducers
        |instead of serializing one.""".stripMargin,
    "q_tfidf_terms" ->
      """Inverted-index tf-idf build. The df branch recomputes the tf
        |lineage (its exchange keys on term, tf's on (doc,term) — never
        |reusable), which is the declarative trade: at 100TB, materialize
        |tf once bucketed by term (ops/Bucketing) and both branches go
        |exchange-free. Join is broadcast at this sf (tiny vocab; AQE
        |demotes to shuffle join past the threshold). The top-5 must show
        |WindowGroupLimit partial+final around the doc_id exchange.""".stripMargin,
    "q_subquery_scalar" ->
      """Correlated scalar subqueries must decorrelate
        |(RewriteCorrelatedScalarSubquery): one aggregate over orders per
        |subquery joined back on o_custkey — no per-row subplan
        |execution.""".stripMargin,
    "q_scan_project" ->
      """Scan hygiene: ReadSchema must list only the 5 projected columns
        |(column pruning reaches the parquet scan).""".stripMargin,
    "q_filter_pred" ->
      """Predicate pushdown: PushedFilters must carry the quantity/
        |discount/returnflag predicates into the scan.""".stripMargin,
    "q_join_scd2" ->
      """SCD2 point-in-time join: ONE equi-join keyed on user_id with the
        |interval containment as a join residual (condition shows the
        |range predicates inside the join, not a filter over a cross
        |product); history versioning is a single lead() window on the
        |same key.""".stripMargin,
    "q_join_interval_overlap" ->
      """Binned interval join: both sides explode into width-sized bins
        |and the join is an EQUI-join on (user, bin) — no
        |BroadcastNestedLoopJoin / CartesianProduct anywhere in the plan;
        |the exact overlap predicate rides as the join residual and the
        |distinct dedups two-bin double-matches.""".stripMargin,
    "q_funnel_stages" ->
      """Ordered funnel: all three stage windows share the user_id
        |partitioning, so the plan carries ONE exchange on user_id feeding
        |a single Window operator chain (no per-stage reshuffle), then the
        |distinct's aggregate.""".stripMargin,
    "q_dedup_semantic" ->
      """SemDeDup: k-means centroids reach each Lloyd iteration as a
        |BroadcastExchange (BroadcastNestedLoopJoin over k rows is the
        |intended probe shape); the pair stage joins on the CLUSTER id —
        |the quadratic term never leaves a cluster — and the verdict is a
        |grouped MIN plus one left join on vec_id.""".stripMargin,
    "q_hierarchy_rollup" ->
      """Recursion dissolved into bounded iteration: ONE scan + ONE
        |narrow Generate exploding the 19 trie-prefix ancestors per row
        |(covers the full positive Long key domain) into a single hash
        |aggregate — no per-level re-scan, no driver loop (the oracle
        |walks the same trie with DuckDB's real WITH RECURSIVE).""".stripMargin,
    "q_triangle_count" ->
      """Triangle kernel, degree-oriented: edges point from the lower
        |(degree, id) endpoint to the higher, wedges generate ONLY at
        |the lowest-ordered corner — out-degree under this orientation
        |is O(sqrt(m)), so a hub's wedge fan-out is bounded (the
        |id-ordered form left it O(d^2)). Wedge join + closing-edge
        |semi-join must both be equi-joins on vertex keys (no nested
        |loop).""".stripMargin,
    "q_bloom_prune" ->
      """Bloom-pruned semi-join: the filter over the fact scan must be
        |the native graft_bloom_might_contain expression INSIDE a
        |WholeStageCodegen span (no BatchEvalPython, no ScalaUDF) with
        |the one-row bloom arriving via BroadcastExchange; the exact
        |broadcast semi-join afterwards removes false positives.""".stripMargin,
    "q_seq_events" ->
      """Bounded sequence build: the row_number gate and the collect
        |aggregate share ONE exchange + sort on user_id (Window then
        |HashAggregate, no second shuffle); the gated collect_list keeps
        |every group's payload <= SeqCap structs.""".stripMargin,
    "q_dedup_simhash" ->
      """SimHash near-dup: one narrow md5-kernel pass over the
        |repartitioned doc scan computes signatures; candidate pairs
        |come from an EQUI-join on (quarter index, quarter value) — no
        |all-pairs product anywhere — and the bit_count(xor) verify runs
        |inside the join's project.""".stripMargin,
    "q_ann_lsh" ->
      """Sign-LSH ANN with replica-group collapse (r14): the corpus is
        |fingerprinted (md5 of the raw vector) and member rank / group
        |rep / has-probe flag ride ONE fp exchange, checkpointed once
        |(plain localCheckpoint — the columnar cache encode of the
        |array column costs more than the chain). Every fx dot product
        |runs rep-against-rep: distinct vectors compute 6 plane signs
        |map-side and equi-join the broadcast probe-rep buckets; member
        |pairs inherit the rep cosine through two equi-joins (candidate
        |groups cut to their 11 smallest ids — group mates tie on
        |cosine and lose the vec_id tie-break beyond that); ranking is
        |WindowGroupLimit top-k per probe. Nothing is all-paired, and
        |on a duplicate-saturated corpus the quadratic scoring work
        |drops by the duplication factor squared (same-session sf1:
        |2.74s -> 1.58s, ratio 7.5x -> 2.4x).""".stripMargin,
    "q_dedup_incremental" ->
      """Incremental dedup: the NEW batch's band keys join the old
        |side's band index (equi-join on (band, bkey), no
        |corpus-vs-corpus self-join anywhere; the batch side is
        |un-hinted — AQE broadcasts it while it fits); only band-matched
        |candidate pairs fetch shingle arrays for the exact verify, and
        |the old corpus is scanned once.""".stripMargin,
    "q_dedup_substring" ->
      """Exact substring dedup: span MINING (the winnow-anchor hinted
        |SMJ self-join, both sides off one reused exchange, (pair,
        |diagonal) aggregation before any text moves, df-capped pair
        |blowout) runs ONCE per suite as the SharedFrames
        |'substring_spans' checkpoint — its build shape is pinned
        |fresh in PlanShapeSpec. This consumer (and q_dedup_excise)
        |must read the checkpointed span frame (Scan ExistingRDD),
        |never rebuild the pair stage.""".stripMargin,
    "q_ann_ivfpq" ->
      """IVF-ADC: Lloyd state iterates DRIVER-side (the MLlib shape —
        |k·dim centroid collects), so assignment and residuals are
        |narrow argmin maps over one cached point relation and the
        |codebooks are LocalRelations (broadcasting them costs no job);
        |ALL M residual subspace codebooks still train in one grouped
        |plan, and since r11 the WHOLE trained index (codebooks + the
        |checkpointed long-form code table) is memoized per suite —
        |q_ann_ivfpq_rerank and q_ann_recall consume the SAME training
        |run (one-build pin in PlanShapeSpec). Scoring is a single
        |broadcast hash join of the code table against the
        |(probe, cell, subspace) LUT (the probed-cell prune and the
        |code lookup are the same join) plus a map-side-partial integer
        |sum, and the final top-k is a WindowGroupLimit. No full-corpus
        |scan per probe anywhere.""".stripMargin,
    "q_ann_ivfpq_rerank" ->
      """IVFADC-R: the ADC stage is q_ann_ivfpq's plan with R=30 over
        |the suite-shared trained index (one training per suite since
        |r11); the refinement is ONE more narrow corpus scan
        |broadcast-joined to the Q·R candidate list (point lookups at
        |cluster scale), the exact fx distance via the codegen
        |graft_fxsqdist kernel, and a WindowGroupLimit cut to the final
        |top-k. The corpus is never shuffled for the re-rank.""".stripMargin,
    "q_sketch_kmv" ->
      """KMV distinct sketch: one map-side-partial distinct on (day,
        |hash), then bottom-k per day via WindowGroupLimit — k rows per
        |day survive to the month merge, which never touches the corpus
        |again (the mergeable-sketch shape). The exact_distinct witness
        |is the only other corpus aggregation.""".stripMargin,
    "q_sparse_cosine" ->
      """Sparse tf-idf retrieval, scored densely: docs fold to one
        |weight vector over the broadcast term dictionary (the postings
        |relation is cached — four consumers), probes broadcast as
        |vectors, and every pair scores through the codegen
        |graft_fxsqdist kernel via dot = (na+nb-|a-b|²)/2 — no string
        |join keys, no exploded (term, pair) rows. WindowGroupLimit cuts
        |to top-10 before the probe exchange. The inverted-index
        |candidate join survives as the ORACLE formulation: row-equal
        |because zero-dot pairs are filtered, and the scale path once
        |vocabulary outgrows the dense fold.""".stripMargin,
    "q_sketch_hll_fx" ->
      """Portable integer HLL: the corpus collapses to (month, register)
        |maxima in ONE partial-aggregated shuffle — 256·months rows
        |regardless of input size — then maxima fold to years and join
        |the broadcast 256-row register spine. The estimate is exact
        |integer division; the only other corpus aggregation is the
        |exact-distinct witness.""".stripMargin,
    "q_graph_kcore" ->
      """Fixed-round k-core peeling: the doubled edge list builds once
        |(hinted SMJ pair self-join) and persists PRE-PARTITIONED on u,
        |so every round's degree count reuses the cached partitioning;
        |alive sets are localCheckpointed each round (a twice-referenced
        |alive frame otherwise DOUBLES the logical plan per round) and
        |join back as explicit broadcasts (stats-less LogicalRDD frames
        |would re-shuffle the edge cache). Early exit on stable counts
        |is result-identical because peeling is monotone.""".stripMargin,
    "q_curation_pipeline" ->
      """End-to-end curation: fingerprints and the quality gate are
        |map-side behind one repartition; the near-dup stage is the
        |df-capped hinted-SMJ shingle self-join (one ReusedExchange);
        |eval 13-grams join un-hinted for decontamination (AQE
        |broadcasts the gram set while it fits); the verdict is a
        |chain of key-local left joins. No cartesian product anywhere —
        |each stage keeps the scale shape its standalone query
        |pinned.""".stripMargin,
    "q_skipgram_pairs" ->
      """Skip-gram corpus builder: tokenize + subsampling gate are
        |map-side; vocab counts, the 3/4-power cumulative ranges, and
        |both scalar totals are tiny broadcasts; the context join runs
        |on (doc, position) equi keys; the ONLY nested loops are the
        |two one-row scalar broadcasts and the 31-row negative-range
        |containment join.""".stripMargin,
    "q_ts_ema" ->
      """Dyadic EMA: the fact table aggregates once to a per-day series
        |(days don't scale with volume) and the trailing window is a
        |broadcast band self-join of that tiny series — the scan never
        |joins anything; weights are shifts inside codegen.""".stripMargin,
    "q_spatial_join" ->
      """Grid-blocked spatial join: the supplier side is exploded to its
        |3x3 cell neighborhood (constant 9x) and joined on the (gx, gy)
        |cell EQUI-key, exact distance verified after — never the
        |quadratic theta join the oracle runs. Both coordinate columns
        |are md5 codegen expressions inside the scan projection.""".stripMargin,
    "q_image_dhash_dedup" ->
      """Perceptual-hash image dedup: decode + dHash are ONE narrow
        |typed pass behind the repartition (no pixel shuffle); pair
        |search is the quarter-blocked equi-join (explode x4, join on
        |(q, qval)), with the hamming verify inside the join project —
        |all-pairs exists only in the oracle.""".stripMargin,
    "q_graph_linkpred" ->
      """Link prediction: wedges from one equi-self-join of the
        |symmetric edge list; the candidate anti-join keys on the
        |oriented edge pair. The degree table joins once per endpoint:
        |its groupBy EXCHANGE is built once and reused (ReusedExchange
        |under the second broadcast) — only the node-sized final
        |aggregate + broadcast build repeats, which is degree-table
        |cost, not edge-scale cost.""".stripMargin,
    "q_graph_labelprop" ->
      """Sync LPA rounds over the SUITE-SHARED label frames
        |(SharedFrames 'lpa_eu'/'lpa_l*': the edge cache checkpoints
        |pre-partitioned on the neighbor key, the node-sized label
        |table is SHUFFLED into each round's join — labels are O(V),
        |never broadcast at scale — and each round is an eager
        |checkpoint). The witness branch reads round RDDs instead of
        |re-executing the chain, and q_graph_modularity consumes the
        |SAME frames: one 4-round build per suite (the r10 #1
        |finding).""".stripMargin,
    "q_hits_scores" ->
      """Integer HITS: the edge list persists pre-partitioned on the hub
        |key and feeds two joins per round; score tables are node-sized
        |and SHUFFLE into those joins (never broadcast at scale); each
        |max-normalization is a one-row broadcast (the only BNLJs — two
        |in the final plan, one per side of the output union). Lazy
        |per-round localCheckpoints keep the chain single-execution, so
        |the final plan reads round RDDs, not the full lineage.""".stripMargin,
    "q_copurchase_lift" ->
      """Market-basket lift over the suite-shared GraphShared pair
        |frame (the a-priori semi prune + merge-hinted self-join now
        |live in that one build — PlanShapeSpec pins its shape
        |directly): this consumer reads the checkpointed pairs at
        |support >= 3 and must NOT rebuild the pair join. Denominator
        |joins are broadcasts of the tiny item-count table; the scalar
        |n_orders is a one-row broadcast BNLJ.""".stripMargin,
    "q_graph_assortativity" ->
      """Degree assortativity: the same a-priori-pruned merge-hinted SMJ
        |self-join builds the edge list ONCE (lazy localCheckpoint — the
        |degree aggregate and the edge-end join both read the checkpoint
        |RDD, not two executions); degree tables join back as explicit
        |broadcasts (stats-less checkpoint frames would otherwise
        |re-shuffle); the five moments are one map-side-partial
        |aggregate to a single row.""".stripMargin,
    "q_retrieval_ndcg" ->
      """NDCG@10 over the suite-shared retrieval frames: both rankings
        |arrive as localCheckpointed RDD scans (RetrievalShared — the
        |tf-idf index and the exact dense ground truth are built ONCE
        |per suite, not per consumer), so this plan is just the rs<=10 /
        |rd<=10 filters, the relevance left join, the fxlog2 discount
        |and one aggregate — no corpus scan, no window, no cartesian
        |product.""".stripMargin,
    "q_graph_sssp" ->
      """Bounded Bellman-Ford over the SUITE-SHARED GraphShared edge
        |frame (one a-priori-pruned merge-hinted SMJ self-join per
        |suite, not per query — the whole graph family dropped ~31s ->
        |~11.5s isolated sf0.1 when it landed); each of the 4
        |relaxation rounds joins the BROADCAST distance frame against
        |the cached symmetric closure and min-folds. Lazy per-round
        |localCheckpoints keep the plan linear in rounds.""".stripMargin,
    "q_graph_ppr" ->
      """Personalized PageRank over the suite-shared GraphShared frame;
        |degrees checkpoint lazily off it and come back as a BROADCAST;
        |each of the 6 rounds is one narrow scan of cached edges + two
        |broadcast joins + the v-keyed aggregate. The eager-seed/
        |uncached variant re-ran the self-join per consumer and
        |measured 3x slower — the seed must stay a lazy checkpoint
        |below the cache.""".stripMargin,
    "q_pagerank_bipartite" ->
      """Fixed-point PageRank over the lineitem part/supplier bipartite
        |graph, 4 power rounds. The degree-joined edge list is hash-
        |partitioned by src ONCE (repartition), and every round's rank
        |join carries the IDENTICAL repartition subtree — rounds 2..4
        |read it back as ReusedExchange, so the |E|-sized build runs
        |once and only the |V|-sized rank table moves per round. The
        |node-count scalar is an explicit one-row broadcast; no
        |cartesian product anywhere. (The explicit .persist variant was
        |tried twice and REVERTED: storage leak or an eager checkpoint
        |that split the DAG, 1.5s -> 8.3s.)""".stripMargin,
    "q_tree_split" ->
      """GBDT histogram split search: the lineitem scan explodes to the
        |3-feature long form and aggregates STRAIGHT to (feature, bin)
        |histogram rows — map-side partial combine does the data-sized
        |work; min/max and per-feature totals are 3-row broadcasts; the
        |prefix-sum window partitions by feature (never a global
        |window); nothing downstream of the first aggregate is
        |data-sized.""".stripMargin,
    "q_knn_classify" ->
      """kNN eval: probes (one in 20) BROADCAST against the corpus scan
        |— the corpus is never shuffled; per-probe top-5 goes through
        |TopK.perGroup partial ranking; the vote and argmax windows run
        |on k-sized groups. At a billion vectors the scoring side swaps
        |to the IVF-PQ index with this eval contract unchanged.""".stripMargin,
    "q_naive_bayes" ->
      """Naive Bayes: the (class x vocab) count model and the class
        |priors come back as BROADCASTS (vocabulary-sized by Heaps'
        |law); scoring is one narrow tokenize pass + broadcast joins +
        |one per-(doc, class) partial aggregate; the argmax window
        |partitions by doc_id. No data-sized shuffle after the token
        |count.""".stripMargin,
    "q_graph_mst" ->
      """Boruvka MSF over the suite-shared GraphShared edges (cached,
        |u-partitioned). Per round: the two component-label joins are
        |BROADCASTS against the cached edge scan; the per-component
        |argmin window partitions by c (never global); pointer jumps
        |are dictionary-sized broadcast joins. Carried frames come back
        |as fresh createDataFrame leaves (constant stats — the
        |localCheckpoint stats-snowball fix; see CLAUDE.md), so the
        |per-round plan stays constant-size across rounds.""".stripMargin,
    "q_retrieval_mmr" ->
      """MMR reranking downstream of the suite-shared dense top-20
        |ground truth: candidates are 10 rows/probe, the pairwise-sim
        |frame 45 rows/probe (fused graft_fxdot in the join project, no
        |component explode); each greedy round is a probe-partitioned
        |window argmax. Diversity runs AFTER retrieval pruning — the
        |only affordable place at scale.""".stripMargin,
    "q_als_rank1" ->
      """Rank-1 ALS: the ratings build is one (cust,part) shuffle; each
        |half-step is a key-partitioned aggregate with map-side partial
        |combine; factors stay columns of distributed frames (no
        |driver-side matrix, no collect).""".stripMargin,
    "q_ts_dtw" ->
      """DTW: one month-keyed aggregate collapses the fact table to a
        |25x12 dictionary; the pair self-join and the compiled per-pair
        |DP kernel run on 300 bounded rows. The only data-sized work is
        |the first aggregate's shuffle.""".stripMargin,
    "q_dbscan_core" ->
      """Grid-blocked DBSCAN: the candidate pair join is a cell EQUI-join
        |over the 9x neighbor-cell replica (never all-pairs / no nested
        |loop); the exact distance predicate rides the join; the
        |core-set pass re-reads the persisted pair frame.""".stripMargin,
    "q_graph_betweenness" ->
      """Sampled Brandes: per hop one broadcast frontier join against the
        |cached symmetric edges plus an anti-join on visited (each
        |checkpointed); the backward pass is one level join per hop.
        |Frontiers are node-set-sized; nothing is all-pairs.""".stripMargin,
    "q_bipartite_match" ->
      """Local-max matching: per round two key-partitioned argmax windows
        |(WindowGroupLimit-able), an equi-join for mutuality and two
        |anti-joins retiring matched endpoints; carried frames are
        |fresh-leaf checkpoints (constant stats across rounds).""".stripMargin,
    "q_textrank_chunks" ->
      """TextRank summarization: the chunk-similarity self-join is an
        |EQUI-join on (doc_id, tok) — the chunk graph never leaves its
        |document, so nothing is cross-doc. The symmetric edge list is
        |persisted ONCE with the per-source weighted degree FOLDED IN
        |(r14: wdeg is a function of the edges, so it rides the one
        |edge cache instead of joining back every round), so each round
        |is ONE doc-partitioned join + aggregate; isolated chunks
        |re-attach once at the end (coalesce 150000); the top-2 readout
        |is a doc-partitioned rank window.""".stripMargin,
    "q_tree_boost" ->
      """Histogram GBDT: per round ONE map-side-combined aggregate
        |collapses the fact scan to a 32x32 (bin_dc, bin_qty) cell
        |table carrying (n, sum r, sum r^2) — both per-feature
        |histograms AND the SSE witness re-aggregate those 1024 rows
        |(r14: was two exploded passes + a separate SSE pass per
        |round); the static-feature bin edges are ONE min/max pass
        |shared by both rounds; split selection is a 64-row sort/limit;
        |the round-2 residual update joins the ONE-row best-split frame
        |back via broadcast. Nothing downstream of the cell aggregate
        |is data-sized — the XGBoost data layout.""".stripMargin,
    "q_bootstrap_ci" ->
      """Poisson bootstrap: the 200x replica fan-out is Generate(explode)
        |of a CONSTANT sequence INSIDE the scan's WholeStageCodegen span,
        |feeding the b-keyed partial aggregate in the same pipeline — no
        |BroadcastNestedLoopJoin, no materialized fan-out rows (the r9
        |28GB-heap GC bomb shape). Only (cents, h48) ride the fan-out;
        |the quantile readout windows over 200 replica rows.""".stripMargin,
    "q_max_coverage" ->
      """Greedy max-coverage: the visible plan is the driver-assembled
        |8-row pick table (the per-round argmax rows are the only driver
        |values — k-bounded, the codebook posture). Each round's work
        |lives in the lazy-checkpointed lineage: ONE left-semi broadcast
        |join of the cached incidence against the shrunk uncovered set,
        |one part-keyed count, one 1-row argmax; the anti-join excision
        |is broadcast too. ~0.8s/round at sf0.1 — inherent to k
        |sequential submodular rounds, nothing data-sized collects.""".stripMargin,
    "q_graph_scc" ->
      """FW-BW SCC peeling: the visible plan is the final assembly over
        |checkpointed RDD leaves (Scan ExistingRDD) — rounds run EAGERLY
        |with a monotone-sum fixed-point test (early exit; peel 2 is
        |skipped when peel 1 settles everything), each round ONE
        |broadcast join of the cached message-template frame
        |(f: dst->src, b: src->dst, s: self) into one map-side min
        |aggregate; the only SortMergeJoin anywhere is the inc self-join
        |that builds the edge list. Leaves are PLAIN localCheckpoint
        |(InternalRows) — the fresh-leaf createDataFrame rebuild paid an
        |UnsafeRow->Row->re-encode round-trip per read and was the sf1
        |GC bomb (SCALING.md Addendum 2: 49.5s -> 18.9s at sf1).
        |Assembly joins (settled labels, sizes) are all broadcast; no
        |data-sized collect (the convergence probe reads ONE aggregated
        |row per round).""".stripMargin,
    "q_graph_modularity" ->
      """Modularity over the SUITE-SHARED LPA label frames (one 4-round
        |build per suite, shared with q_graph_labelprop — before r11
        |the chain ran twice and this was the #1 driver bench cost).
        |The plan reads the checkpointed labels and the checkpointed
        |symmetric edge cache; the within-community count joins labels
        |once per endpoint; per-community sums are two node-sized
        |aggregates; m and q_ppm are one-row broadcasts (the only
        |nested loops, <=2 BNLJs by PlanShapeSpec).""".stripMargin,
    "q_graph_bfs" ->
      """Multi-hop BFS over the suite-shared GraphShared edges: each
        |hop joins the frontier against the cached symmetric closure
        |plus an anti-join on visited, and per-hop frontiers PERSIST —
        |an unpersisted hop re-executes every earlier hop's join chain
        |(6.2s -> 3.6s isolated sf0.1 when the fix landed in r8).
        |Frontiers are node-set-sized; nothing is all-pairs and no
        |data-sized value reaches the driver.""".stripMargin,
    "q_dedup_excise" ->
      """Span excision consumes the suite-shared 'substring_spans'
        |checkpoint (one mining pass per suite, shared with
        |q_dedup_substring). Island merging is a per-doc window over
        |span rows — tiny relative to the corpus — and only AFFECTED
        |docs join their text for the stitch: the corpus text is
        |joined twice by doc_id (pieces + tail), never self-joined,
        |never all-paired.""".stripMargin,
    "q_bpe_merges" ->
      """BPE training artifact off the ONE memoized suite-level train
        |run (SharedFrames.value 'bpe_trained'; before r11 all three
        |BPE queries retrained — three corpus shuffles and 3K argmax
        |rounds per suite). Training itself scans the corpus once into
        |word counts; each of K rounds collects only the BOUNDED
        |pair-count table ((alphabet+K)^2 ceiling) for a driver argmax
        |— the codebook posture. The visible plan is the K-row local
        |relation.""".stripMargin,
    "q_bpe_vocab" ->
      """Vocabulary audit off the same memoized train run: the symbol
        |aggregate is bounded by construction (<= alphabet+K symbols)
        |and collects once INSIDE the shared build, so this query's
        |visible plan is a LocalTableScan; a retrain here would mean
        |the memo broke (pinned by PlanShapeSpec's reference-equality
        |test).""".stripMargin,
    "q_bpe_encode" ->
      """Tokenizer application: the K learned merges travel in the UDF
        |closure (broadcast semantics), so encoding is ONE narrow
        |map-side pass behind the repartition — no join, no shuffle
        |before the output sort, at any corpus scale. Training is the
        |shared memoized run, not a rebuild.""".stripMargin,
    "q_bm25_topk" ->
      """BM25 lexical scoring: the exploded token stream filters to the
        |query-term IN-list BEFORE any shuffle; (doc, term) tf
        |aggregates with map-side combine; df and corpus stats join
        |back as query-term-sized / one-row BROADCASTS; the final cut
        |is TakeOrderedAndProject (per-partition heaps, no global sort
        |materialization). The persisted-index path is text/LexIndex
        |with file-level pruning.""".stripMargin,
    "q_retrieval_rbo" ->
      """RBO consumes the two SUITE-SHARED top-20 rankings
        |(RetrievalShared checkpoints, 20 rows/probe): one equi-join
        |on (probe, id) + one probe-keyed aggregate — no corpus scan,
        |no window. An isolated reading of this query pays the
        |retrieval family's build (recorded as paid_build in the bench
        |side file) and must not be mistaken for a regression.""".stripMargin,
    "q_ann_recall" ->
      """Recall@10 eval: the ADC side reads the suite-shared trained
        |index (one training per suite since r11) and prunes to probed
        |cells through the broadcast LUT join; the exact side is one
        |narrow fx-distance corpus scan; each ranking cuts via
        |WindowGroupLimit before the (probe)-keyed intersect join of
        |two k-sized lists. The corpus is never all-paired and never
        |shuffled for scoring.""".stripMargin,
    "q_eval_mrr" ->
      """MRR consumes the SUITE-SHARED sparse/dense top-20 rankings
        |(RetrievalShared checkpoints — 'Scan ExistingRDD' below, never
        |a parquet rescan): the hit join is a (probe, doc) equi-join
        |over two probe-bounded frames and the readout one probe-keyed
        |min. A multi-second bench reading here is the retrieval
        |family's shared BUILD landing on the alphabetically-first
        |member under name-sorted order (paid_build in the side file),
        |not this query's own cost. Pinned by PlanShapeSpec.""".stripMargin,
    "q_eval_bradley_terry" ->
      """Arena-style Bradley-Terry ratings: the data-sized work is one
        |(order, brand) micro-spend aggregate and one merge-hinted
        |self-join on the order key (per-order fan-out bounded by
        |brands^2); the (w, l) match-count aggregate collapses to the
        |<= 25x25 brand dictionary BEFORE the driver collect, and the
        |MM recursion runs on that matrix like a learned model — the
        |visible plan is the LocalTableScan readout, never a data-grain
        |join-back. Pinned by PlanShapeSpec (output <= brand
        |dictionary).""".stripMargin,
    "q_pref_cycles" ->
      """Preference transitivity audit off the SUITE-SHARED bt_pairs
        |checkpoint (the (order, brand) micro-spend aggregate + merge-
        |hinted order self-join runs ONCE per suite, shared with
        |q_eval_bradley_terry — 'Scan ExistingRDD' below, never a
        |lineitem rescan): majority edges per unordered brand pair,
        |then two triad equi-joins and three edge lookups, all on the
        |<= brands²/2 dictionary edge list; the one-row readout joins
        |two one-row scalar broadcasts. Pinned by PlanShapeSpec.""".stripMargin,
    "q_dedup_prefixfilter" ->
      """PPJoin-lite prefix filtering (r12) with replica-group collapse
        |(r14): docs are fingerprinted by their CANONICAL shingle set
        |(md5 of the sorted array; Jaccard depends only on the set, so
        |the collapse is exact on ANY corpus) and the grouped frame is
        |checkpointed once (plain localCheckpoint — the columnar cache
        |encode of the array column measured 3x slower). The whole
        |pipeline then runs on one representative per group: df is one
        |map-side-combined aggregate; the rarity rank and size windows
        |share ONE doc_id exchange; pair generation joins PREFIX rows
        |only (rare-first ordering keeps boilerplate shingles out of
        |every prefix); the exact verify is a grouped COUNT join
        |semi-pruned to candidate DOCS then to candidate PAIRS (codegen
        |hash agg — measured 2x over per-pair array_intersect), all
        |joins un-hinted or merge-hinted, never a forced broadcast.
        |Qualifying rep pairs expand back to member pairs by two group
        |equi-joins; intra-group pairs emit directly (jaccard =
        |containment = 1e6 by definition). No cartesian product
        |anywhere; zero false negatives by the prefix-filter theorem
        |(Wave65Spec). Same-session sf1: 66.1s -> 6.9s, ratio 14.1x ->
        |1.5x — on a duplicate-saturated corpus the candidate/verify
        |work shrinks by the duplication factor squared.""".stripMargin)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Session.builder("4").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "false") // pinned plan shapes
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the scale-critical queries\n\n")
    sb.append("Generated by `runMain graft.PlanDump` (sf0.01, AQE off for\n")
    sb.append("stable shapes). Commentary states the property each plan must\n")
    sb.append("keep; regressions show up as a diff of this file.\n")
    interesting.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n${note}\n\n```\n")
      // simple scans keep the detail section (it carries PushedFilters/
      // ReadSchema); big plans keep just the operator tree
      val keepDetails = Set("q_scan_project", "q_filter_pred")
      sb.append(if (keepDetails(name)) plan.trim else plan.split("\n\n").head)
      sb.append("\n```\n")
    }
    sb.append("\n## Accepted deviations\n\n")
    sb.append("- `q_text_sentiment` scores through HOF `filter` lambdas, which\n")
    sb.append("  run interpreted (measured ~10x slower than compiled UDFs in hot\n")
    sb.append("  paths). Accepted: the query runs in well under a second in-suite\n")
    sb.append("  and has never appeared in the top-75 cost list; revisit only if\n")
    sb.append("  it does.\n")
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plandump] wrote PLANS.md (${interesting.size} plans)")
    spark.stop()
  }
}
