"""Generate PLANS.md: formatted physical plans of headline queries with
the scale-relevant facts extracted."""
import sys, re
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .config("spark.ui.showConsoleProgress", "false")
         .appName("plans").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
for k, v in {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
}.items():
    spark.conf.set(k, v)
import __spark_entry__ as mod
SF = "/root/testdata/sf0.1"
qs = mod.queries()

COMMENT = {
 "pricing_summary": "One scan of the fact table; partial (map-side) HashAggregate before the 2-key shuffle; the date filter reaches the parquet scan as a PushedFilter. At 100 TB: scales with scan bandwidth, shuffle is 6 rows.",
 "multiway_join_agg": "lineitem->orders shuffles once on the join key; customer/nation/region are BroadcastHashJoins. AQE can re-plan orders' side if runtime stats allow. At 100 TB: one fact shuffle, dims broadcast.",
 "latest_event_per_user": "Single shuffle on user_id feeding a windowed row_number; no join. At 100 TB: one shuffle keyed by entity, state bounded per group.",
 "minhash_lsh_neardup": "Per-row HOF signature computation (no shuffle); candidates from a band-key SELF-JOIN over compact (band_key, doc_id) pairs -- the shingle payload never enters the exchange; shingles re-joined only for surviving pairs' Jaccard verification. At 100 TB: shuffle bytes = ids x bands, skewed bands split by AQE.",
 "simhash_neardup_pairs": "120-bit simhash (two bigint halves, one-pass F.aggregate bit fold); 30-bit band self-join (about 1e9 keys per band keeps buckets O(1) as the corpus grows); Hamming verification on the joined pairs. At 100 TB: shuffle carries (band, id, 2 bigints) only.",
 "embedding_neardup": "Hyperplane LSH bucket per vector (plane count from log2 corpus scaling); bucket-id self-join over compact (vec_id, bucket); embeddings re-joined for cosine verification of candidates only. No collect_list anywhere (plan-asserted).",
 "ivf_probe_topk": "Centroids collapse to ONE row (array) and broadcast; cell assignment is a per-row F.aggregate argmax -- NO Exchange on the vector side (plan-asserted). The assignment is localCheckpoint-ed (the IVF index build, computed once and probed many times) so the probe join scans materialized (vec_id, cell) rows instead of re-evaluating the argmax fold inside the join condition; probe filters to the query cell then TakeOrderedAndProject.",
 "knn_cosine": "Query vector broadcast (BroadcastNestedLoopJoin over 1 row); per-row dot product; TakeOrderedAndProject for top-k. At 100 TB: embarrassingly parallel scan, k rows to driver.",
 "exact_dedup": "md5 fingerprint groupBy: uniform hash key -> skew-free single shuffle with map-side partial aggregation.",
 "pii_redact": "Regex redaction + match counts as ONE JVM projection pass -- zero exchanges; at 100 TB this is scan-bandwidth-bound.",
 "decontam_ngram_overlap": "Distinct word-8-gram shingles per doc, md5-hashed; the small eval side BROADCASTS so the only exchange is the pair-count aggregation over (train, eval) hits. At 100 TB: shuffle carries only matched (hash, id, id) rows.",
 "dup_ngram_stats": "Zero-shuffle Gopher repetition signal: per-row array_sort + one F.aggregate fold finds the top-bigram multiplicity doc-locally -- no explode, no keyed exchange on the corpus's distinct-bigram space.",
 "kmeans_fit": "Per-iteration: broadcast one-row centroid array, per-row argmax assignment (localCheckpoint truncates lineage), then ONE (cell, dim)-keyed exchange carrying map-side-combined partial sums. The executed plan shows the final iteration; earlier iterations are the Scan ExistingRDD checkpoints.",
 "substring_dup_runs": "Strided window hashes are a zero-shuffle explode projection; the hash-frequency guard and the cross-doc candidate join are equi-joins on the md5 window hash (uniform key, no skew); the run merge windows over fine-grained (doc_a, doc_b, diagonal) keys. At 100 TB: shuffle carries (id, pos, 32-char hash) rows, ~len/stride per doc.",
 "winnow_dup_pairs": "Winnowing selection (array_min over (hash,-pos) struct slices) is doc-local -- zero shuffle until the fingerprint equi-join; fingerprint density ~2/(w+1) of k-gram count bounds the join input. Same frequency-capped join shape as substring_dup_runs.",
 "ivfpq_search": "IVF-PQ composed index: probe cells and the ADC table decided on the driver from one centroid collect; one MapInPandas scan assigns each vector its cell, keeps the probed rows, PQ-encodes them and sums their ADC lookups, then TakeOrderedAndProject. Zero corpus-side shuffles and no broadcast; at 100 TB the (cell, codes) table is the written index and cell pruning bounds each search.",
 "ivfpq_residual_search": "Residual IVF-PQ (Jegou V.B): training reads residuals through the Arrow cell assignment and a literal cell-to-centroid map (no join); the search is ivfpq_search's single MapInPandas scan over residuals with one ADC table per probed cell.",
 "enrich_events": "Stream-static enrichment's batch twin: the customer dim BROADCASTS (explicit broadcast()), the event side never shuffles -- per micro-batch re-execution of the static side ships once per executor.",
 "semdedup_keep": "SemDeDup cluster-then-prune: broadcast IVF cell assignment (no vector-side Exchange), broadcast centroid join for the scoring pass, then the within-cell pair join -- quadratic IN THE CELL by design (cluster count must scale with the corpus), keyed by the cell id so AQE can split hot cells.",
 "quality_classifier_filter": "Classifier-based filtering: weights embed as a literal bucket array and the hashed-bag-of-words logit is ONE fold per row -- zero exchanges, scan-bandwidth bound at any scale.",
 "paragraph_dedup": "CCNet paragraph-hash dedup: posexplode is a projection; exactly TWO exchanges -- the md5-hash window (first-occurrence-wins needs no join back) and the per-doc reassembly aggregate. Uniform hash key, skew bounded by per-paragraph occurrence counts.",
 "c4_clean": "C4 line+doc filtering: split/filter/array_join HOFs in ONE projection -- zero exchanges, scan-bandwidth bound; the doc verdict and the cleaned text come from the same pass.",
 "audio_stats": "PCM WAV decode in Arrow batches: one MapInPandas over (media_id, data) -- the projection pushed into the scan reads only those two columns; zero exchanges. Batch-peak memory, not partition-peak.",
 "ivfpq_rerank": "Two-stage retrieval: the ivfpq ADC shortlist (3k rows) BROADCASTS against the raw-vector scan for exact re-scoring -- the corpus is never shuffled for refinement; TakeOrderedAndProject emits the final k.",
 "fhir_ingest_corpus": "Directory ingest -> entry() -> cohort: ONE variant parse per file (the within-bundle Patient x Condition cross product is sequential explodes over the same scan, not a bundleUUID self-join that would re-parse per side); pathGlobFilter listing; the cohort aggregate is the only exchange.",
 "dsir_importance": "DSIR selection: the fitted 256-bucket log-ratio vector embeds as a literal array (the broadcast-the-model move) and the scoring pass is ONE zero-shuffle row-local fold over the hashed bigrams -- scan-bandwidth bound; the fit itself is one explode + one 256-key groupBy, negligible next to the corpus scan.",
 "bm25_topk": "BM25 scan-scoring: corpus stats (N, total dl, per-term df) reduce to ONE row in a single aggregate pass, broadcast onto the scoring projection (1 BroadcastNestedLoopJoin over 1 row); every doc scores itself shuffle-free; TakeOrderedAndProject emits k. At 100 TB with a large query set: materialize the inverted index instead (explode -> (term,doc,tf) bucketed by term).",
 "scd2_intervals": "SCD-2 build: ONE exchange on user_id serves the lag window, the run groupBy (user_id partitioning satisfies the (user_id, grp) clustering), and the lead/row_number window -- plan-visibly a single shuffle; per-user state is bounded by run count.",
 "lm_perplexity_filter": "CCNet LM scoring: the bigram LM is a count TABLE (explode + keyed count), never a driver object; scoring left-joins the doc bigrams against it (broadcast at fixture scale, gram-key shuffle at LM scale) and aggregates per doc. Every stage is a keyed join/agg on uniformly-hashed string keys.",
 "unimax_sample": "UniMax budget sampling: per-language counts reduce to a tiny broadcast dim; the keep decision is EXACT integer arithmetic in a zero-shuffle projection -- no per-language sort/window that would funnel a whole language through one partition.",
 "bm25_inverted_topk": "Inverted-index BM25: the posting table (doc, term, tf) is the one corpus-scan shuffle; query terms BROADCAST against it so only matching postings flow onward; df/stats are tiny broadcast rows; the per-doc sum aggregates a handful of rows per doc. At 100 TB the posting table is written once, bucketed by term, and every query is a pruned equi-join.",
 "classifier_train_steps": "Logistic-regression training as a lazy DAG: each GD step is a feature-keyed gradient aggregate; the 64-row weight vector flows between steps as a BROADCAST join (the distributed parameter-server form for models this shape); no driver loop, no collect anywhere in the plan.",
 "dup_span_removal": "Span excision on top of the run finder: interval merge is one (doc, start) window pass, intervals pack into a bounded per-doc array, and the text rebuild is a row-local gap-stitching fold -- no per-char explode; the corpus-side cost remains the window-hash join the finder already pays.",
 "video_meta": "MP4 box walk in Arrow batches: one MapInPandas over (media_id, data), zero exchanges -- the multimodal decode shape shared with image_dims/audio_stats; garbage rows yield NULLs, never task failures.",
 "hybrid_rrf_topk": "RRF hybrid retrieval: each source contributes a TakeOrderedAndProject shortlist; rank windows run over those <=50-row sets (single-partition windows on shortlists are FINE -- the corpus is never globally sorted); the fusion join is tiny-by-construction.",
 "bsq_hamming_search": "Binary sign quantization: the encode is a per-row fold (zero shuffle), the search scans 8-byte codes with a broadcast one-row query -- 64x less scan bandwidth than raw vectors; TakeOrderedAndProject top-k.",
 "countmin_estimate": "Count-Min build: ONE token explode x depth -> keyed count into a fixed depth*width-row sketch (the mergeable streaming summary); probes are a tiny broadcast join against it. Corpus cost is one explode+count regardless of vocabulary.",
 "resample_ffill": "Gap-filled resample: ONE user_id shuffle serves the daily aggregate, the span aggregate, the grid join, and the forward-fill window; the dense grid comes from sequence+explode (no driver-side calendar) and per-user state is bounded by the span in days.",
 "chunk_sliding": "Sliding-window chunking: closed-form chunk count, slice windows over the token array, one explode -- ZERO exchanges, scan-bandwidth bound; the chunker a RAG/embedding pipeline runs before encode.",
 "corpus_clean": "Composed cleaning pipeline (exact fingerprint keep-list -> minhash near-dup drop -> semdedup embedding prune) with localCheckpoint between stages so each stage's lineage is truncated before the next self-join; per-stage drop counts ride along as literals. The executed plan shows the final keep-list anti-join over the persisted survivor tables (Scan ExistingRDD); each stage's build shape is the corresponding standalone query's plan.",
 "bpe_encode": "True BPE encode: the merge loop runs per DISTINCT word (pandas_udf over the vocabulary table, cost scales with vocab not corpus); the corpus pass is then a broadcast word->pieces join + explode -- the corpus-side plan is one broadcast join, zero corpus shuffles.",
 "text_token_stats": "Token/word statistics as pure Column folds (split + aggregate) in ONE projection -- zero exchanges; scan-bandwidth bound. The r9-flagged query: its plan has no shuffle to regress, so wall-clock moves only with machine load (see BENCH spread).",
 "pretrain_pipeline": "Composed pretraining-data accounting in ONE corpus scan: every stage (quality, language, dedup-keep) is a per-row FLAG over the same projection, so the only exchanges are the fingerprint window (dedup representative) and the two tiny aggregates -- a naive stage-by-stage job re-reads the corpus once per stage. The flag frame is localCheckpoint-ed because accounting and packing both consume it.",
 "bloom_dedup": "Bloom incremental dedup: the history bitmap build is the ONLY hash exchange (distinct over <= n_bits keys -- bounded regardless of history size); the one-row bitmap broadcasts onto a zero-shuffle probe projection; the ground-truth fingerprint semi-join (gate-only) broadcasts the distinct history fps.",
 "temperature_sample": "Temperature language mixing: per-language counts and the one-row max broadcast back onto a zero-shuffle keep projection; the keep test is exact integer arithmetic (squared hash-Bernoulli), so no libm and no cross-language float sum exists in the plan.",
 "pagerank_weights": "Integer PageRank: per iteration one rank->edge equi-join + one dst-keyed integer SUM + one left join onto the node list -- the Pregel dataflow as plain uniform-key shuffles; the top-k is TakeOrderedAndProject, never a global sort; ranks are ppm integers so partial-agg order cannot change the result.",
 "containment_neardup": "Asymmetric containment verify: candidates from the shared MinHash band join (compact (band,id) exchange); the exact set intersections run per CANDIDATE via two keyed joins back to the shingle table -- the shingle payload never enters the band exchange.",
 "shard_assignment": "Training-shard assignment: the shard id is a hash projection over the scan (zero shuffle); the audit is one N-key aggregate. At 100 TB the same column feeds repartition(N, col).write for balanced shard files without a global sort.",
 "vocab_coverage": "Vocabulary OOV audit: vocab induction is one token-keyed count + TakeOrderedAndProject top-k under a total tie order; the coverage pass joins corpus tokens against the broadcast vocab and aggregates per language -- no corpus-keyed shuffle beyond the lang aggregate.",
 "dup_line_removal": "Within-doc repeated-line removal: posexplode projection -> first-occurrence window partitioned by (doc, line-hash) -- a PER-DOCUMENT key, so no corpus-global hot key exists -- -> per-doc sort+fold reassembly (collect_list bounded by the doc's own line count).",
 "ngram_decontaminate": "Benchmark decontamination drop-list: the eval set's distinct 5-grams BROADCAST onto the exploded corpus -- the corpus itself never shuffles; only COLLIDING grams reach the doc-keyed count, and the per-doc gram totals ride the same pre-join projection (one corpus scan).",
 "minhash_incremental_dedup": "Incremental near-dup screen: new-batch bands equi-join HISTORY bands (never history x history -- candidate volume scales with the batch, not the archive); shingles re-join per surviving candidate; final agg keyed by new-doc id. At scale the history band/shingle tables are a persisted index (build_minhash_index) probed by every batch.",
 "fhir_omop_observation_period": "OMOP observation_period: 6 dated resource explodes union into narrow (person, date) pairs; partial min/max collapses each map task to <=1 row per person BEFORE the single person-keyed exchange (plan-asserted: exactly one hashpartitioning).",
 "fhir_reference_integrity": "Reference-integrity audit: per check the source side projects ONE ref string; the target-id side is a bounded distinct (broadcast after it); each check aggregates to a single row and the 4 rows union -- no Cartesian, no corpus-wide shuffle.",
 "source_quota_sample": "Per-source COUNT quota: per-source counts are a tiny broadcast; under-quota sources bypass through a broadcast ANTI join (zero shuffle, the long-tail common case); only over-quota sources enter the single row_number window, whose exchange is pruned map-side by the partial WindowGroupLimit to <=quota rows per (task, source) -- a hot host inflates the scan, never the shuffle.",
 "domain_quantile_filter": "Per-domain quality quantile with NO corpus sort: scores live in [0,1000] so the corpus collapses into a bounded (source, score) histogram (partial agg caps map output at 1001 rows/source); the running-sum window and threshold pick run over the TINY histogram; thresholds broadcast back onto a zero-shuffle filter; the final per-source aggregate is the only other corpus-keyed exchange.",
 "fhir_omop_payer_plan_period": "OMOP payer_plan_period from the NDJSON bulk-export scan: line-splittable Coverage file -> one variant parse per line -> pure typed projection (open-end censor is a coalesce) -- zero exchanges; scan-bandwidth bound like every $export mapping.",
 "fhir_omop_care_site": "OMOP care_site: the corpus-sized Location/Organization explodes feed exploded-DISTINCTs that collapse to the facility cardinality (partial agg map-side) before a BROADCAST join -- the join input is bounded by the number of facilities, not bundles.",
 "fhir_omop_cost": "OMOP cost from Invoice: one explode + typed projection over the corpus scan -- zero exchanges beyond the parse; Money totals and CPT code are plain nested-field plucks.",
 "fhir_omop_drug_era": "OMOP drug_era gap-and-island: ONE (person, concept)-keyed Exchange end-to-end -- the lag gap-flag window and the running-sum era-id window share one sort, and the era groupBy's keys are a superset of the window partition keys so no second shuffle is planned.",
 "fhir_omop_condition_era": "OMOP condition_era: the SAME shared _era_merge core as drug_era over the NDJSON bridge -- the bridge's per-type aggregates plus exactly ONE additional (person, concept) exchange for both windows and the era groupBy (plan-asserted relative to the bridge's own count).",
 "fhir_concept_map_translate": "Terminology translation: the ConceptMap is definitional, so the group->element->target walk collapses to a tiny mapping frame that BROADCASTS; the corpus-sized condition side never shuffles on a terminology key -- the only exchange is the 10-key per-standard-code aggregate.",
 "fhir_omop_location": "OMOP location: per-patient address projection -> groupBy the (city, state, zip3, country) tuple; partial aggregation collapses each map task to its distinct addresses before the single bounded-key shuffle (address cardinality << person count).",
 "weighted_sample_topk": "Weighted priority sample: the md5-uniform/weight key is a per-row projection and the global top-k plans as TakeOrderedAndProject -- every task keeps a local k-heap, ZERO Exchange (plan-asserted); O(k) driver state, the streaming-reservoir contract.",
 "hll_distinct_estimate": "HyperLogLog cardinality: one token explode -> 256-key max aggregate (partial max caps map output at m rows); the harmonic sum and estimate are one tiny aggregate. The exact COUNT(DISTINCT) alongside is the only full-vocabulary shuffle and exists purely as the quality yardstick.",
 "pca_top_component": "Distributed PCA: covariance accumulates as ONE dxd partial per Arrow batch via MapInPandas (treeAggregate shape -- shuffle volume scales with task count, never the N*d^2 pair explode); the 3-step power iteration is broadcast joins over the d^2-row matrix behind a localCheckpoint.",
 "fhir_omop_cohort": "CDM cohort selection: the 10-code ValueSet BROADCASTS onto the condition scan; the condition-exposure join exchanges each side once on person_id (the only corpus-keyed shuffle stage) and the first-exposure min(struct) reuses that partitioning map-side -- no further corpus Exchange for the whole cohort build.",
 "source_drift_chi2": "Distribution-drift monitor: one token explode collapses into the BOUNDED (source x bucket) aggregate (partial agg caps map output at 64 rows/source/task); source totals and corpus bucket totals broadcast back; the chi-square sum is over <=64 terms per source. No vocabulary-keyed shuffle exists.",
 "bpe_train_merges": "Iterated BPE training: ONE corpus-scan word-frequency aggregate, then every round is VOCABULARY-sized -- per-word windows (lead/lag/row_number share the (w, pos) sort), a bounded pair-count aggregate, and a 1-row TakeOrdered argmax; rounds are localCheckpoint-ed so the final plan shows only the last round.",
 "fhir_omop_observation": "OMOP observation (domain split): line-splittable NDJSON scan -> one variant parse per line -> category-membership filter + typed projection -- ZERO Exchange (plan-asserted); scan-bandwidth bound like every $export mapping.",
 "fhir_omop_specimen": "OMOP specimen: the same zero-Exchange $export projection shape -- concept/date/quantity are nested-field plucks off the pruned Specimen struct.",
 "fhir_omop_device_era": "Device eras: the Device/DUS bridge (one patient-keyed exchange per type) resolves the within-bundle reference shuffle-free, then the shared _era_merge core adds exactly ONE (person, concept) Exchange for both windows and the era groupBy (plan-asserted relative to the bridge's own count).",
 "fhir_quality_measure_catalog": "eCQM catalog resolution: all three frames are definitional handfuls, so the Measure->Library->PlanDefinition canonical-url joins BROADCAST (no SortMergeJoin, plan-asserted) -- the terminology-row posture.",
 "quantile_sketch_estimate": "Mergeable rank sketch: one narrow projection -> <=33-key level histogram (partial agg caps map output); the threshold is a 1-row broadcast onto a second pruned-column scan; estimation runs on the capacity-bounded survivor frame; the true-rank audit is the only extra corpus aggregate and exists purely as the quality yardstick.",
 "bpe_train_encode": "Train->encode composition: training cost is the word-frequency aggregate + vocabulary-sized rounds; the learned table is a rounds-sized model fetch; encoding touches Python only on the DISTINCT-word dictionary (Arrow-batched) and the corpus pass is the word->pieces equi-join + per-doc aggregate.",
 "domain_quantile_sketch": "Grouped rank sketch: ONE (source, level) partial-aggregated histogram + a survivor filter against broadcast per-source thresholds are the only corpus-side stages; the candidate grid, cumulative ranks and quantile picks run on groups-x-capacity frames -- per-domain thresholds on an unbounded score with no per-source sort.",
 "fhir_omop_note": "OMOP note: line-splittable NDJSON scan -> typed projection incl. the JVM-side unbase64 decode of the attachment payload -- ZERO Exchange; decode cost is linear in payload bytes, the floor for any note ETL.",
 "fhir_research_enrollment": "Trial accrual rollup: per-patient enrollments BROADCAST-join the 5 definitional studies (the terminology posture); the only exchange is the bounded (study x status x arm) aggregate with map-side partials.",
 "domain_reweight_step": "DoReMi mixture update (linearized): ONE partial-aggregated per-source rollup (bounded keys, map tasks emit <=1 row per source) + a broadcast corpus total; the multiplicative update and ppm renormalization run on the sources-sized frame -- no corpus sort, no per-doc state.",
 "domain_reweight_converge": "DoReMi k=4 loop: the corpus is scanned ONCE (the shared scored-frame rollup, localCheckpointed); each round is integer tilt -> renormalize -> eps-mix on the sources-sized state, checkpointed so round t+1 reads <=|sources| rows -- the final plan contains ZERO corpus-side operators.",
 "fhir_omop_visit_detail": "OMOP visit_detail: line-splittable ext-corpus NDJSON scan with a location.period SCHEMA OVERRIDE (S4) -> posexplode of the ward-transfer segments + pure typed projection -- ZERO Exchange; output rows bounded by total location segments.",
 "fhir_request_group_actions": "Promotion proof row: RequestGroup instantiatesCanonical url|version split (split_part, JVM-side) -> BROADCAST join onto the 6 ActivityDefinition templates -> bounded (url, status)-keyed rollup; corpus-sized data never shuffles on a definitional key.",
 "fhir_writer_canonical_leaves": "Writer canonical contrast row: one projection pass builds the bundle JSON (typed-leaf dispatch inside to_json expressions), one variant re-parse extracts the round-trip values -- zero exchanges, scan-bandwidth-bound like the writer itself.",
 "theta_sketch_setops": "Theta/KMV sketch set ops: corpus side is one distinct-shingle projection + a <=33-key level histogram (partial agg) + a survivor filter vs broadcast per-group thresholds; the exact bottom-k window sorts only the ~2k-row survivor frame (operators/theta.py, unchanged). r19: the pair algebra and the <=21-row fused exact audit are collected (k-bounded driver state, the PQ-codebook pattern) and the integer set-op arithmetic runs driver-side -- the corpus-side jobs execute at query CONSTRUCTION and the final plan is the 6-row literal panel below; values are recomputed from parquet on every construction, never cached.",
 "heavy_hitter_tokens": "CMS heavy hitters: one token explode feeds BOTH the depth*width sketch (partial-agg, <=24 rows) and the exact counts; the full-vocabulary probe joins the BROADCAST sketch; the phi threshold is a 1-row broadcast crossJoin. No vocabulary sort, no driver collect.",
 "cooccurrence_topk": "Co-occurrence: per-doc DISTINCT token self-join keyed on doc_id (blowup bounded by per-doc vocabulary), one (w1,w2) partial-aggregated count, document frequencies joined BROADCAST, TakeOrderedAndProject top-k boundary -- no vocabulary-squared sort.",
 "int4_roundtrip": "Blockwise int4 quantizer: one embeddings scan, pure HOF encode->decode->error projection inside WholeStageCodegen -- ZERO Exchange.",
 "fhir_notebook_e2e": "Notebook-mirror chain's final frame: the two WRITTEN parquet tables rejoin on bundleUUID; the writer leg re-parses its emitted JSON as ONE variant projection (try_parse_json + variant_get); OMOP person is a projection of the entry parse. At 100 TB each hop is a table-to-table parquet job; nothing collects.",
 "unicode_normalize_stats": "NFC normalization: ONE ArrowEvalPython projection (vectorized unicodedata batch) feeding length deltas; the only Exchange is the bounded (lang, source) partial agg. At 100 TB: scan-bandwidth-bound, Python cost amortized across Arrow batches.",
 "stream_cms_topk": "Streaming CMS fold (post-fold probe plan): the <=depth*width counter state BROADCASTS onto the distinct-user probe; threshold is a 1-row broadcast. Between batches the state is counter rows, never events. At 100 TB the sketch is bytes while exact per-user counts would be a full keyed shuffle.",
 "fhir_omop_episode": "OMOP EPISODE: NDJSON bridge scan -> level-1 era windows+groupBy and level-2 episode windows+groupBy all share the (person, concept) clustering -- the era chain's single Exchange serves all four window/agg operators; no second corpus shuffle.",
 "fhir_omop_fact_relationship": "OMOP FACT_RELATIONSHIP: ext-corpus Specimen scan -> parent explode -> UNION of two pure projections (child-of / parent-of) -- ZERO Exchange; output = 2x parent references.",
 "fhir_medication_knowledge_costs": "Batch-13 proof row: 30-row formulary BROADCAST onto the corpus-side MedicationRequest code projection (S4 override read), one bounded (code, form, status)-keyed rollup -- corpus never shuffles on a definitional key.",
 "fhir_contract_terms": "Batch-13 proof row: Contract scan -> term explode -> one (type, status, term-type)-keyed partial-aggregated rollup with integer cents -- a single bounded-key Exchange.",
 "funnel_conversion": "Ordered 3-stage funnel: each stage is a user_id equi-join of the event scan against the PREVIOUS stage's per-user min-time frame (monotonically shrinking), then three 1-row counts crossJoin as broadcasts. No global sort, no window over the stream; at 100 TB each stage is one keyed shuffle whose right side only ever shrinks.",
 "cohort_retention": "Weekly cohort retention: the per-user cohort dim and the distinct (user, week) activity frame join on user_id (the single corpus-keyed exchange pair); the aggregate lands on the BOUNDED (cohort_week x offset) grid and cohort sizes come back as a BroadcastHashJoin -- integer-ppm math keeps it hash-stable.",
 "salted_agg_skew": "Two-phase skew-salted aggregation: exactly TWO hash exchanges -- (key, salt16) partial then key combine (plan-asserted) -- so a 1000x hot key spreads over 16 reducers before the bounded combine; the oracle is the PLAIN group-by, pinning salting as execution-only.",
 "mad_outliers": "Exact median/MAD robust outliers: three aggregate-to-5-rows passes over the stream; every med/mad frame rejoins as a BroadcastHashJoin (plan-asserted, no SortMergeJoin) -- the sort cost lives inside the per-key grouped median aggregate, never a corpus-global window.",
 "rolling_7d_users": "Rolling 7-day WAU by offset densification: each distinct (user, day) row explodes to its 7 target days (a projection, no shuffle), observed-day semi-join is a BROADCAST, then ONE day-keyed distinct count -- the range-frame COUNT DISTINCT Spark windows can't express, without a per-day self-join over the event stream.",
 "event_transition_matrix": "Markov transition estimates: ONE user-keyed Exchange serves the lead() window; the pair count lands on the bounded (from x to) grid with map-side partials; row totals come back as a BroadcastHashJoin for the integer-ppm probabilities.",
 "zipf_fit_slope": "Zipf fit: one token explode + token-keyed count is the only corpus-side work; the rank window and regr_slope/intercept/corr run on the VOCABULARY-sized frame (single-partition window over vocab rows is the vocab_coverage posture -- bounded by dictionary size, not corpus).",
 "js_divergence_sources": "Pairwise JS divergence: the corpus collapses into the bounded (source x token) count frame; the zero-filled distribution grid (vocab x sources, built from two bounded frames) self-joins on token per ordered source pair -- every post-explode stage is vocabulary-sized, and the log terms round AFTER the pair aggregate.",
 "ndcg_bsq_eval": "Graded nDCG@10 of the BSQ Hamming ranking vs exact-cosine relevance: two TakeOrderedAndProject scans (8-byte codes for the approx leg, broadcast 1-row query for both) produce k-row frames; the rel join, DCG terms and IDCG division are all k-bounded -- ranking-quality evaluation without ever re-sorting the corpus.",
 "gini_user_activity": "Gini activity concentration: the corpus collapses to the per-user count frame; the rank window and the closed-form sum run user-sized (single-partition window over a bounded frame, the vocab_coverage posture); every sum is integer so the ONE floating division is the only inexact step.",
 "anomaly_days_zscore": "Daily-volume z-score flags: one day-keyed count with map-side partials, a 1-row mean/stddev aggregate broadcast back (BroadcastNestedLoopJoin over 1 row) -- the z projection and the |z|>2 flag are rounded identically on both engines.",
 "stream_daily_anomaly": "Streaming day-count fold (post-fold plan): the <= span-days folded state (Scan ExistingRDD behind the localCheckpoint) feeds the same 1-row stats broadcast + z projection as the batch twin; between batches the state is day rows, never events. Count addition is exactly mergeable, so fold == one-pass (property-pinned).",
 "topk_per_group": "Per-group top-k: the rank<=3 filter plans as WindowGroupLimit -- each map task keeps only k rows per group BEFORE the user-key exchange, so the shuffle carries <=k rows per (task, group) instead of a customer's full order history. At 100 TB: the per-entity-limit shape with map-side pruning.",
 "percent_change_wow": "Week-over-week deltas: the event stream collapses to the bounded (type x week) grid in ONE partially-aggregated exchange; the lag window and ppm arithmetic run grid-sized. At 100 TB: window state never touches raw events.",
 "patient_record_linkage": "Blocked EMPI record linkage: records shuffle ONCE on the (birth_year, state) blocking key -- the oversized-block guard (count + semi-join) and the pairing self-join ride the same key; per-pair levenshtein verify runs ONLY on block co-members (plan-asserted: no CartesianProduct / BroadcastNestedLoopJoin). At 100 TB: candidate work is sum of block^2 with blocks capped, never |records|^2 -- the dedup.py band-join posture applied to structured rows.",
 "bitmap_distinct_users": "Bitmap-rollup exact distinct: ids pack into 64-bit words, bit_or partials collapse each map task to |groups| x |id_space|/64 rows BEFORE the exchange -- shuffle volume set by id-space geometry, independent of event count (no Expand, no distinct (group,id) pair shuffle); the ALL row re-merges the checkpointed word frame (hash once, merge many). At 100 TB: exact distinct with bounded shuffle where COUNT(DISTINCT) pays the full pair cardinality.",
 "bucketed_join_agg": "Bucketed co-located join: both fact tables written 8-bucket on the join key, merge-hinted SortMergeJoin with ZERO pre-join Exchange (bucketing satisfies both sides' clustering; plan-asserted 1 Exchange total -- the bounded priority aggregate). At 100 TB this is the recurring fact-fact join layout: pay the bucketed write once, every subsequent join skips its shuffle.",
 "linkage_entities": "Pairs -> EMPI crosswalk: the blocked pair frame localCheckpoints once (Scan ExistingRDD here), min-label propagation converges in 2 rounds on star-shaped linkage components, the final assignment is one left join on rec_id. At 100 TB: iteration cost is |pairs|-bounded, never |records|^2; the crosswalk write is the amortized output.",
 "linkage_incremental": "Incremental linkage, the production EMPI shape: the survivor crosswalk persists BUCKETED on the block key, the arriving batch is the ONLY side that shuffles (plan-asserted 1 Exchange in the candidate join), per-pair verify on co-members, min-survivor assignment. At 100 TB: the billion-entity registry is never re-shuffled per batch.",
 "scd2_history": "Multi-attribute SCD2 dimension build: ONE exchange on the dimension key serves the lag-change window, the run groupBy (custkey partitioning satisfies the (custkey,grp) clustering) and the lead/row_number versioning window (plan-asserted). Per-key state bounded by run count.",
 "twap_per_user": "Time-weighted average: one user-keyed lead() window then a per-user aggregate that reuses the window's partitioning -- single shuffle, no densification, exact integer epoch-micros arithmetic.",
 "ab_test_zstat": "Two-proportion z-test: per-user collapse is the only event-scale aggregate; arms reduce to 2 rows; the z-statistic computes on a crossed pair of 1-row broadcast frames. At 100 TB: one event-scale shuffle, constant-size tail.",
 "triangle_count": "Degree-oriented exact triangle count: edges orient low-(deg,id)->high bounding out-degree by O(sqrt|E|), the wedge self-join is O(|E|^1.5) not sum-of-deg^2, closure is ONE two-column equi-join. Survives power-law graphs where naive wedge counting funnels hub degrees.",
 "zorder_layout": "Z-order layout audit: Morton interleave is a codegen HOF fold (zero shuffle), stats reduce to one broadcast row, the bucket rollup is the only exchange. At 100 TB the same code keys repartitionByRange + sorted writes for multi-dimensional data skipping.",
 "rolling_7d_users_bitmap": "Rolling distinct via bitmap word frames: per-day bitmaps explode x7 on the WORD frame (|days| x |id_space|/64 rows, ~64x smaller than (user,day) activity), bit_or re-merge per trailing window, popcount per day. Same oracle as rolling_7d_users -- execution-strategy contract.",
 "top_paths": "First-5-event journey paths: rank<=5 plans as WindowGroupLimit (map-side per-user pruning BEFORE the exchange), the path is an ordered in-group aggregate (sort_array over (rank,type) structs -- collect_list alone has no order guarantee), top-20 is TakeOrderedAndProject.",
 "event_type_jaccard": "Pairwise user-set Jaccard via bitmap algebra: raw events feed the word build directly (bit_or idempotence makes a pre-DISTINCT redundant; partial bit_or collapses map-side), the checkpointed word frame self-joins on WORD INDEX with popcount(bits_a & bits_b) -- pair work is |types|^2 x |id_space|/64 words, independent of event count, where the SQL twin pays a user-level self-join.",
 "cohort_retention_bitmap": "Retention matrix via bitmap AND: cohort and active-week word frames join on word index; cell (c,w) = popcount(bits_c & bits_w) over the |cohorts| x |weeks| x |id_space|/64 grid instead of re-shuffling per-user activity per cell; cohort sizes are popcounts of the SAME checkpointed cohort frame (hash once, merge many).",
 "rfm_segments": "RFM segmentation: one per-customer shuffle, a 1-row broadcast anchor (max order date), FIXED-arithmetic band scores (no global ntile that would funnel all customers through one window partition), bounded 4x4x4 rollup.",
 "grouped_percentile_approx": "Native mergeable grouped percentile: map side folds rows into partial percentile_approx SKETCHES (ObjectHashAggregate), the ONE exchange moves sketches -- bytes bounded by group count, independent of group size; accuracy 1e6 makes the answer exact (= discrete quantile) at test SF.",
 "stratified_reservoir": "Per-stratum deterministic reservoir: salted two-phase exact top-k by md5(unique key); rank-limit pushdown (WindowGroupLimit Partial) caps every map task at k per window group BEFORE each of the two exchanges, and the salt phase bounds the final per-stratum rank at S*k rows regardless of cluster width.",
}

out = ["# PLANS — physical plans of the headline queries (sf0.1, AQE on)",
       "",
       "Generated from `.explain` on the live session. For each query: the",
       "scale-relevant plan facts, then the executed plan. Regenerate with",
       "`python tests/gen_plans.py` after plan-affecting changes.",
       "",
       "NOTE: queries that persist their signature/assignment tables",
       "(minhash/simhash/embedding pairing, IVF probe) show the persisted",
       "table as `Scan ExistingRDD` — the checkpoint boundary truncates",
       "lineage, which is exactly the point (hash once, join many). The",
       "BUILD plan of each persisted table (with its PushedFilters and",
       "pruned ReadSchema) is dumped separately below the probe plan.",
       ""]
for name in ["pricing_summary", "multiway_join_agg", "latest_event_per_user",
             "exact_dedup", "minhash_lsh_neardup", "simhash_neardup_pairs",
             "embedding_neardup", "ivf_probe_topk", "knn_cosine",
             "pii_redact", "decontam_ngram_overlap", "dup_ngram_stats",
             "kmeans_fit", "substring_dup_runs", "winnow_dup_pairs",
             "ivfpq_search", "ivfpq_residual_search", "enrich_events",
             "semdedup_keep", "quality_classifier_filter",
             "paragraph_dedup", "c4_clean", "audio_stats", "ivfpq_rerank",
             "fhir_ingest_corpus",
             "dsir_importance", "bm25_topk", "scd2_intervals",
             "lm_perplexity_filter", "unimax_sample",
             "bm25_inverted_topk", "classifier_train_steps",
             "dup_span_removal", "video_meta", "hybrid_rrf_topk",
             "bsq_hamming_search", "countmin_estimate",
             "resample_ffill", "chunk_sliding",
             "corpus_clean", "bpe_encode", "text_token_stats",
             "pretrain_pipeline",
             "bloom_dedup", "temperature_sample", "pagerank_weights",
             "containment_neardup", "shard_assignment", "vocab_coverage",
             "dup_line_removal", "ngram_decontaminate",
             "fhir_omop_observation_period", "fhir_reference_integrity",
             "minhash_incremental_dedup",
             "source_quota_sample", "domain_quantile_filter",
             "fhir_omop_payer_plan_period", "fhir_omop_care_site",
             "fhir_omop_cost", "fhir_omop_drug_era",
             "fhir_omop_condition_era", "fhir_concept_map_translate",
             "fhir_omop_location", "weighted_sample_topk",
             "hll_distinct_estimate", "pca_top_component",
             "fhir_omop_cohort", "bpe_train_merges",
             "source_drift_chi2",
             "fhir_omop_observation", "fhir_omop_specimen",
             "fhir_omop_device_era", "fhir_quality_measure_catalog",
             "quantile_sketch_estimate", "bpe_train_encode",
             "domain_quantile_sketch",
             "fhir_omop_note", "fhir_research_enrollment",
             "domain_reweight_step",
             "domain_reweight_converge", "fhir_omop_visit_detail",
             "fhir_request_group_actions",
             "fhir_writer_canonical_leaves",
             "theta_sketch_setops", "heavy_hitter_tokens",
             "cooccurrence_topk", "int4_roundtrip",
             "fhir_notebook_e2e", "unicode_normalize_stats",
             "stream_cms_topk",
             "fhir_omop_episode", "fhir_omop_fact_relationship",
             "fhir_medication_knowledge_costs", "fhir_contract_terms",
             "funnel_conversion", "cohort_retention",
             "salted_agg_skew", "mad_outliers",
             "rolling_7d_users", "event_transition_matrix",
             "zipf_fit_slope", "js_divergence_sources",
             "ndcg_bsq_eval", "gini_user_activity",
             "anomaly_days_zscore", "stream_daily_anomaly",
             "bucketed_join_agg",
             "topk_per_group", "percent_change_wow",
             "patient_record_linkage", "bitmap_distinct_users",
             "linkage_entities", "linkage_incremental", "scd2_history",
             "twap_per_user", "ab_test_zstat", "triangle_count",
             "zorder_layout", "rolling_7d_users_bitmap", "top_paths",
             "event_type_jaccard", "cohort_retention_bitmap",
             "rfm_segments", "grouped_percentile_approx",
             "stratified_reservoir"]:
    df = qs[name](spark, SF)
    df.write.format("noop").mode("overwrite").save()  # let AQE finalize
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = re.sub(r"#\d+L?", "", plan)
    facts = []
    facts.append(f"- shuffles (Exchange): {plan.count('Exchange hashpartitioning')}")
    facts.append(f"- broadcast joins: {plan.count('BroadcastHashJoin') + plan.count('BroadcastNestedLoopJoin')}")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    facts.append(f"- pushed filters: {[p for p in pushed if p][:2]}")
    reads = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    facts.append(f"- read schemas (pruned): {[r[:80] for r in reads[:3]]}")
    out.append(f"## {name}\n")
    out.append(COMMENT.get(name, ""))
    out.append("")
    out.extend(facts)
    out.append("")
    # keep plan body compact: first 40 lines
    body = "\n".join(plan.splitlines()[:40])
    out.append("```\n" + body + "\n```\n")

# build plans of the persisted tables (pre-checkpoint lineage): these carry
# the FileScan facts the probe plans no longer show
from pyspark.sql import functions as F
from interop_spark.io import load
from interop_spark.operators import dedup as dd, similarity as sim
from interop_spark.queries import pipeline as pl

sig = pl._with_near_dups(load(spark, SF, "documents"), limit=100).select(
    F.col("doc_id"),
    dd.minhash_signature(dd.word_shingles(F.col("text"), pl.SHINGLE_N),
                         pl.MINHASH_K).alias("sig"))
emb = load(spark, SF, "embeddings").where(F.col("vec_id") < 300)
vecs = emb.select("vec_id", "embedding").unionByName(emb.select(
    (F.col("vec_id") + pl.DUP_OFFSET).alias("vec_id"), "embedding"))
planes = [sim._hyperplane(i, pl.EMB_DIM) for i in range(pl.NEARDUP_PLANES)]
builds = {
    "minhash signature/band build (persisted before the self-join)":
        dd.band_table(sig, pl.MINHASH_K, pl.BANDS, pl.ROWS, "doc_id"),
    "embedding bucket build (persisted before the self-join)":
        vecs.select("vec_id", sim.lsh_bucket_udf(planes)(
            F.col("embedding")).alias("bucket")),
}
out.append("## build plans of persisted tables\n")
for title, df in builds.items():
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = re.sub(r"#\d+L?", "", plan)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    reads = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    out.append(f"### {title}\n")
    out.append(f"- pushed filters: {[p for p in pushed if p][:2]}")
    out.append(f"- read schemas (pruned): {[r[:80] for r in reads[:3]]}")
    out.append("")
    lines = [ln if len(ln) <= 400 else ln[:400] + " ...<truncated>"
             for ln in plan.splitlines()[:30]]
    out.append("```\n" + "\n".join(lines) + "\n```\n")
open("/root/repo/PLANS.md", "w").write("\n".join(out))
print("written", len(out), "lines")
