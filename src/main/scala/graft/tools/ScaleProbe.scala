package graft.tools

import org.apache.spark.sql.SparkSession

/** Scale-exponent stress gate: measures how the heaviest catalog operators
  * actually scale between two data sizes and FAILS when a measured growth
  * exponent exceeds the operator's declared complexity bound — converting
  * every "scales by design" claim in COVERAGE.md into a measured contract.
  *
  * Why a gate and not a benchmark: scale-killers hide at small SF (the
  * r8 APSS join was "fine" at sf0.01 and 49.7 s at sf0.1 — a quadratic
  * candidate set only shows up as the RATIO between sizes). For data
  * growing by factor F, a probe passes when
  * t_big / t_small ≤ F^bound + overhead-floor; the bound encodes the
  * operator's designed complexity (1.3 ≈ linear + shuffle/log slack,
  * 1.5 ≈ iterative with log-round growth, 1.6 ≈ designed super-linear
  * expansion such as m^1.5 triangle enumeration or output-pair-bounded
  * similarity joins). Fixed overhead at the small size biases exponents
  * DOWN, so a generous bound still catches the quadratic class: the
  * pre-fix APSS measured ≈ 1.8 under this probe, 0.8 after the Bayardo
  * prefix filter.
  *
  * Usage: `graft.tools.ScaleProbe [smallDir bigDir outFile]` — defaults
  * /root/testdata/sf0.01, /root/testdata/sf0.1, SCALE.json. Streaming
  * queries are excluded by design: their cost is trigger/drain machinery,
  * not data volume (measured flat across SFs), so a ratio gate on them
  * tests the clock, not the plan.
  */
object ScaleProbe {

  /** (query, declared max growth exponent). Bounds are contracts: raising
    * one requires a design justification in COVERAGE.md.
    *
    * Round-14 tightening (r13 verdict item 3): the original bounds encoded
    * DESIGNED complexity (1.3–1.6) but measured exponents sit at a median
    * ~0.3 — a regression from 0.3 to 1.2 (a 4× shape change at factor 5)
    * would still have "passed". Each bound is now
    * max(max(measured across rounds) + 0.45, 0.7), rounded to 0.05 and
    * never ABOVE the old designed ceiling. The 0.45 margin covers the
    * largest cross-round drift observed on byte-identical code (0.37,
    * probe_edit_join_full r12→r13 — fixture regeneration + machine state),
    * while any real shape regression (linear → quadratic ≈ +1.0) still
    * fails. probe_dbscan_tiled keeps its designed 1.5: it genuinely curves
    * (measured 0.91 → 1.09 across rounds; CC rounds grow ~log n). The
    * old designed exponent stays in each comment — it remains the raise-to
    * ceiling should a legitimate design change need slack back.
    *
    * Round-15 re-pin (r14 verdict item 3): every bound recomputed over the
    * FULL measurement history including the r14 run (each line's
    * "(r14 …)" entry) under the same max(history)+0.45 rule — the max
    * over rounds, not the latest run alone, because single-run pinning
    * chases noise (probe_edit_join_full measured .95 → .30 across rounds
    * on identical code). Deliberately loose: probe_dbscan_tiled 1.5
    * (genuine curve, see above) and q128_cosine_pairs 1.30 (the suite's
    * fattest measured exponent — dfCap-LINEARIZED by construction, see
    * the ApssJoin scaladoc for the proof sketch; no LSH-bits knob exists
    * for an inverted-index APSS). New probes still ship with a loose
    * provisional bound, get measured in a full 5× run, then pin.
    *
    * Round-16 deep run (r15 verdict item 5): the two fattest curves were
    * probed ONCE at synthesized 20× (sf0.1 → 20 copies), where a
    * 0.9-exponent polynomial and linear×log separate cleanly —
    *   probe_dbscan_tiled: 0.92 @5× → 1.11 @20× — the linear×log
    *     hypothesis confirmed (CC rounds ~log n adds ~0.1 to the measured
    *     exponent per 4× of factor); designed 1.5 bound re-justified,
    *     kept. r17 extended the curve to 40× (one-shot,
    *     SCALE_deep17_dbscan40.json): **1.066** — flat across 5×/20×/40×
    *     (1.00/1.11/1.07), linear×log settled;
    *   probe_edit_join_full: 0.92 @5× → 1.27 @20× — r17 ADJUDICATED as
    *     TWO stacked SYNTHESIS/FIXTURE artifacts (verdict item 4), not an
    *     operator curve: (a) the per-copy letter ROTATION cycled at 10
    *     copies, giving copies i and i+10 identical text (exact cross-
    *     copy clones → gram df ×2 and identical-prefix pair output
    *     quadratic within rotation classes); (b) the probe's typo-id
    *     offset +1e9 COLLIDED with copy ≥10 original ids (copies offset
    *     i·1e8), putting two different strings under one id — garbled
    *     prefix windows and multiplied verify joins, and at 40× a
    *     task-level OOM. Fixing (a) alone: 1.047 @20× (t_big 215.6 s →
    *     109.9 s); fixing both: **0.891 @20×** (t_big 69.6 s) — right on
    *     the 5× history (0.92/0.95), on IDENTICAL operator code
    *     (SCALE_deep17_editjoin.json). The clean 40× one-shot measures
    *     1.109 end-to-end (SCALE_deep17_editjoin40.json): the 20→40×
    *     segment is where the REAL effect finally shows — a q=2 gram
    *     space over ~40-char prefixes holds only a few thousand distinct
    *     grams, so past ~10⁶ corpus strings every gram's df grows ∝ n and
    *     candidate volume trends ∝ n² no matter how rare the chosen
    *     prefix grams are. That is the ED-Join's documented saturation
    *     regime, and the levers are parameters, not plan shape: larger q,
    *     dfCap/stopgram pruning. The 5×-gate bound stays 1.4
    *     (max-history 0.95 + 0.45); end-to-end deep readings sit 0.3
    *     under it, and the gate's 5× factor is far below saturation. */
  val probes: Seq[(String, Double)] = Seq(
    "q29_dedup_minhash" -> 1.05, // design 1.5: banded LSH, CC rounds ~log n; measured .46/.61 (r14 0.40)
    "q69_dedup_clusters" -> 0.7, // design 1.5: same family + cluster materialization; measured .10/.01 (r14 -0.07)
    "q82_dedup_keep_best" -> 0.7, // design 1.5: CC + per-component argmax; measured -.02/.07 (r14 0.01)
    "q85_semantic_dedup" -> 0.95, // design 1.5: k-means‖ + per-cluster pairs; measured .36/.52 (r14 0.36)
    "q94_bpe_train" -> 0.9, // design 1.3: fixed merge rounds × linear pass; measured .40/.41 (r14 0.43)
    "q115_edit_pairs" -> 1.2, // design 1.6: blocked pair expansion; measured .54/.77 (r14 0.47)
    "q119_pagerank" -> 0.7, // design 1.4: fixed rounds × linear edge joins; measured .17/.22 (r14 0.15)
    "q120_leakage_split" -> 0.7, // design 1.5: iterative CC ~log n rounds; measured -.04/-.03 (r14 0.03)
    "q128_cosine_pairs" -> 1.3, // design 1.6: APSS candidates dfCap-linearized (see ApssJoin doc — no LSH bits knob here); measured .72/.84, kept at measured+0.45
    "probe_triangles_disjoint" -> 0.75, // design 1.6: wedges ∝ data at replicated density; measured .29 (r14 0.28)
    "q155_containment" -> 0.95, // design 1.6: inverted-index pair generation; measured .31/.50 (r14 0.14)
    "q170_pref_cycles" -> 1.0, // design 1.6: oriented cycle wedges O(m^1.5); measured .39/.55 (r14 0.10)
    // q180_label_prop's direct entry (bound 0.8, measured .28/.33, r14
    // 0.09) is REPLACED r18 by probe_labelprop_disjoint below: the catalog
    // graph keys on the shared ~4000-supplier vocabulary, which
    // synthesize() densifies instead of growing — the q129/q373 precedent
    "probe_labelprop_disjoint" -> 0.75, // pinned r18 (was provisional 1.30) (design 1.4: fixed rounds × linear joins at replicated density); measured r18 5× 0.27, 20× deep 0.22
    "q185_basket_lift" -> 0.7, // design 1.6: within-basket pair expansion; measured .10/.16 (r14 0.16)
    "q208_pq_ann" -> 0.7, // design 1.3: bounded training + map-side encode; measured .06/.01 (r14 0.17)
    "q209_coreset" -> 0.7, // design 1.3: O(N) per round vs newest pick; measured .10/.07 (r14 0.10)
    "q213_winnowing" -> 0.95, // design 1.3: O(L) monotone deque, map-side; measured .49/.52 (r14 0.49)
    "q215_hits" -> 0.75, // design 1.4: fixed rounds × linear edge joins; measured .19/.31 (r14 0.04)
    "q229_topic_segments" -> 1.05, // design 1.3: per-document linear tiling; measured .48/.51 (r14 0.59)
    "q244_matryoshka" -> 0.7, // design 1.3: fixed-count query side O(n·k); measured .13/.17 (r14 -0.05)
    "q253_incremental_cc" -> 0.8, // design 1.5: delta-sized re-clustering; measured .35/.34 (r14 0.33)
    "q261_rank_sketch" -> 0.85, // design 1.3: hash-partitioned sort + sketch rows; measured .20/.40 (r14 0.11)
    // lakehouse lifecycle: every op is file-count-bounded metadata plus
    // linear passes over live data — a super-linear exponent here means a
    // log replay or file-attribution step went quadratic
    "q272_restore" -> 0.7, // design 1.3: DV delete + CoW merge, linear passes; measured .02/.04 (r14 0.04)
    "q281_mv_incremental" -> 0.7, // design 1.3: MV build linear, refresh ∝ delta; measured .01/-.04 (r14 0.01)
    "q282_optimize_compact" -> 0.7, // design 1.3: one repartition write; measured .06/.04 (r14 0.06)
    // q284_scc's direct entry (bound 0.7, measured -.00/-.00, r14 0.05) is
    // REPLACED r18 by probe_scc_scaled below: the catalog fixture keeps
    // k < 4·(n/4) over p_partkey, and synthesize()'s 1e8 copy offsets fall
    // entirely OUTSIDE that dense prefix — the direct probe ran the same
    // graph at both sizes (the ≈ -0.00 readings were vacuous, not fast)
    "probe_scc_scaled" -> 0.85, // pinned r18 (was provisional 1.30) (design 1.3: O(log d) shortcut rounds × linear edges); measured r18 5× 0.26, 20× deep 0.37
    "q286_frequent_sequences" -> 0.7, // design 1.5: levelwise Apriori; measured .04/.02 (r14 -0.09)
    "q288_record_linkage" -> 0.8, // design 1.3: sorted-neighborhood, window-linear; measured .31/.37 (r14 0.30)
    "q289_link_prediction" -> 0.8, // design 1.6: degree-capped wedge expansion; measured .30/.36 (r14 0.26)
    "q294_gram_matrix" -> 1.05, // design 1.3: rows × fixed d² map-side; measured .41/.62 (r14 0.37)
    "q296_proximity_search" -> 0.7, // design 1.3: prefilter + per-doc window; measured -.01/.02 (r14 -0.03)
    "q298_clustering_depth" -> 0.7, // design 1.4: linear manifest + file-count sweep; measured .03/.03 (r14 0.03)
    "q303_bfs_eccentricity" -> 1.05, // design 1.4: rounds ≈ diameter, linear per round; measured .28/.61 (r14 0.26)
    "q304_ktruss" -> 0.7, // design 1.6: degree-oriented wedges O(m^1.5); measured .13/.20 (r14 0.08)
    "q309_fd_discovery" -> 0.7, // design 1.3: n·k² explode, partially aggregated; measured .06/.26 (r14 0.16)
    "probe_edit_join_full" -> 1.4, // design 1.6: ED-Join full corpus, prefix-filtered; measured .58/.95 (r14 0.30, r15 0.92); 20× deep run 1.27 (see header)
    // round-12 families. The catalog geo/bootstrap queries read customer/
    // supplier/events, which synthesize() copies through UNSCALED (fixed
    // dimension context) — a direct probe would measure factor-1 data and
    // pass vacuously, so these four run probe-only drivers over the
    // SCALING tables instead.
    "q323_spearman" -> 0.7, // design 1.3: censuses + join-back, row-linear; measured .04/.06 (r14 0.00)
    "q324_roc_auc" -> 0.7, // design 1.3: score census + prefix window; measured -.01/.03 (r14 -0.01)
    "q325_normal_equations" -> 0.7, // design 1.3: one map-side Gram pass; measured -.11/.07 (r14 -0.03)
    "q327_kendall" -> 0.7, // design 1.3: value-grid-bounded census self-join; measured .23/.15 (r14 0.13)
    "probe_spatial_join_orders" -> 1.05, // design 1.4: grid join, fixed build side; measured .38/.61 (r14 0.44)
    "probe_dbscan_tiled" -> 1.5, // design 1.5 KEPT: genuinely curves (CC rounds ~log); measured .91/1.09 (r14 0.68, r15 0.92); 20× deep run 1.11 = linear×log confirmed (see header)
    "probe_tile_pyramid_orders" -> 0.7, // design 1.3: one shuffle + census rollups; measured .02/-.00 (r14 -0.06)
    "probe_bootstrap_lineitem" -> 0.7, // design 1.3: B replicates, one agg pass; measured -.03/.00 (r14 0.03)
    "q339_isotonic" -> 0.7, // design 1.3: fixed positions, census linear; measured -.18/.03 (r14 0.05)
    "q340_kruskal_wallis" -> 0.7, // design 1.3: value census + join-back; measured -.29/.03 (r14 -0.06)
    // round-13 probes
    "q331_table_digest" -> 0.7, // design 1.3: one map-side fold; measured .01 (r14 0.03)
    "q332_join_mv_delta" -> 0.7, // design 1.3: delta joins + digest folds; measured -.02 (r14 -0.16)
    "probe_bbox_overlap_tiled" -> 1.25, // design 1.4: tiled constant density; measured .79 (r14 0.73)
    "probe_skew_report" -> 0.9, // design 1.3: distributed two-pass rank; measured .34 (r14 0.45)
    // round-13 operator probes. q346 reads events (synthesize copies it
    // through unscaled → vacuous), so retention runs a probe-only driver
    // over orders instead.
    "q345_ranking_eval" -> 0.7, // design 1.3: fixed query groups, one pass; measured .19 (r14 -0.27)
    "q347_interval_islands" -> 0.7, // design 1.3: per-key windows, row-linear; measured .04 (r14 0.18)
    "q348_survival" -> 0.7, // design 1.3: fixed (grp, t) census; measured -.03 (r14 0.01)
    "q349_boruvka_msf" -> 0.9, // design 1.5: O(log n) rounds × linear joins; measured .45 (r14 0.46)
    "q350_join_size" -> 0.7, // design 1.3: key censuses + census join; measured .16 (r14 0.12)
    "q351_ecdf" -> 0.7, // design 1.3: fixed value-grid census; measured .02 (r14 -0.04)
    "probe_retention_orders" -> 0.7, // design 1.3: (user, period) census; measured -.17 (r14 0.03)
    "q358_betweenness" -> 1.25, // design 1.4: 2·horizon rounds, linear frontiers; measured .79 (r14 0.78)
    "q359_double_sweep" -> 1.2, // design 1.4: two horizon-bounded sweeps; measured .75 (r14 0.52)
    // round-14 probes (bounds = measured + 0.45 like the rest; measured
    // values from the r14 full probe run recorded per line)
    "q362_drift_fdr_monitor" -> 0.7, // design 1.3: row-linear bin census + census-sized chi2/BH; measured .05 (r14 0.05)
    "q372_changepoint" -> 0.7, // design 1.3: row-linear day census + census windows; measured -.00 (r14 -0.07)
    "q374_bradley_terry" -> 0.7, // design 1.3: row-linear judgment scan; 12-item census rounds; measured .02 (r14 -0.01)
    "q375_gini" -> 0.7, // design 1.3: value census + census window; measured .03 (r14 0.04)
    "q376_text_eval" -> 0.7, // design 1.3: per-row gram map + (id, gram) census join; measured -.03 (r14 0.07)
    "q377_majority_vote" -> 0.7, // design 1.3: rating census + majority pick join-back; measured .18 (r14 0.12)
    "q379_winsorized" -> 0.7, // design 1.3: value census + windows + clamp fold; measured .02 (r14 0.03)
    "q380_hubness" -> 0.7, // design 1.3: IVF scan with centroids ∝ corpus (cells bounded) + census fold; measured .13 (r14 0.17)
    "probe_lcc_disjoint" -> 0.7, // design 1.6 (measured .12): q373 at replicated density (disjoint supplier universes per copy — the q129/probe_triangles lesson: the catalog graph's shared vocabulary densifies quadratically under synthesis) (r14 0.12)
    // round-15 probes — provisional loose bounds, to be pinned at
    // measured+0.45 after this round's full 5× run
    "q383_curation_plan" -> 0.7, // pinned r15 (was provisional 1.30) (design 1.3): feature map + window dedup + split + census agg, row-linear; measured 0.07
    "q384_sql_model_gate" -> 0.7, // pinned r15 (was provisional 1.30) (design 1.3): one map-side token-scoring pass + group agg; measured 0.08
    "q385_registry_incremental_dedup" -> 0.75, // pinned r15 (was provisional 1.30) (design 1.5): artifact build linear map-side, cross-side bucket join; rotated copies keep output ∝ n; measured 0.32
    "q386_friedman" -> 0.7, // pinned r15 (was provisional 1.30) (design 1.3): row-linear distinct + fixed 400-block design; measured 0.00
    "q389_mann_kendall" -> 0.7, // pinned r15 (was provisional 1.30) (design 1.3): row-linear census to a fixed 50-day grid + grid² pairs; measured -0.10
    "q391_nn_descent" -> 0.85, // pinned r15 (was provisional 1.30) (design 1.3): fixed rounds × (k² per-node candidates + vector joins); measured 0.39
    // round-17 probes, PINNED round 18 (r17 verdict item 2) at
    // max-over-history + 0.45, rounded up to 0.05, floor 0.7 — the r13/r15
    // discipline; each line keeps its measured history and the old
    // provisional 1.30 stays the raise-to ceiling. Fixture-building
    // queries (q398/q399/q402/q405/q406 construct memoized temp-dir
    // fixtures from the probed dir's documents/embeddings) pay the build
    // in run 1; min-of-2 times the warm steady state.
    "q397_curation_gate_cap" -> 0.7, // pinned r18 (was provisional 1.30) (design 1.3): per-row gopher gate + hash-rank cap + census agg, row-linear; measured r17 full-gate 0.01, partial -0.18
    "q398_curation_dedup_pack" -> 0.8, // pinned r18 (was provisional 1.30) (design 1.5): line/span dedup = corpus-wide window censuses + id joins; pack is per-group linear; measured r17 full-gate 0.33, partial 0.17
    "q399_curation_semantic_quota" -> 0.7, // pinned r18 (was provisional 1.30) (design 1.5): SemDeDup with k ∝ corpus (cells bounded, the q85 contract) + quota pick; measured r17 full-gate 0.24, partial 0.16
    "q400_registry_ivf_ann" -> 0.7, // pinned r18 (was provisional 1.30) (design 1.3): centroid build linear (fixed k, fixed iters), probes=cells search = bounded-panel brute force; measured r17 full-gate 0.11, partial 0.10
    "q401_registry_pq_adc" -> 0.85, // pinned r18 (was provisional 1.30) (design 1.3): PQ train fixed geometry, encode map-side, 5-query ADC scan linear; measured r17 full-gate 0.40, partial -0.07
    "q402_sql_lsh_dedup" -> 0.95, // pinned r18 (was provisional 1.30) (design 1.5): the q29 family as SQL text — banded bucket self-join + inverted-index verify, stage-materialized; measured r17 full-gate 0.43, partial 0.46
    "q403_ann_recall_curve" -> 0.7, // pinned r18 (was provisional 1.30) (design 1.3): bounded deterministic query panel × corpus scan per probe level; measured r17 full-gate 0.06, partial -0.01
    "q404_data_card" -> 0.9, // pinned r18 (was provisional 1.30) (design 1.3): map-side projection + census aggregates, no raw-row windows; measured r17 full-gate 0.43, partial 0.28
    "q405_curation_artifact_dedup" -> 0.95, // pinned r18 (was provisional 1.30) (design 1.5): artifact build linear map-side; candidate join output-sized (q29 family); measured r17 full-gate 0.47, partial 0.42
    "q406_curation_data_card" -> 0.95, // pinned r18 (was provisional 1.30) (design 1.3): raw filter + data card censuses; measured r17 full-gate 0.46, partial 0.35
    // round-18 event-analytics probes (the sessionize/funnel/markov family
    // reads the UNSCALED events table, so it had zero probes — these replay
    // the shapes over scaling orders; see the probeOnly drivers)
    "probe_sessions_orders" -> 0.7, // pinned r18 (was provisional 1.30) (design 1.3: per-user window sort + lag, n log n within fixed keys); measured r18 full-gate 0.12
    "probe_funnel_orders" -> 0.7, // pinned r18 (was provisional 1.30) (design 1.3: user-keyed min censuses + window-bounded joins); measured r18 full-gate 0.23
    "probe_markov_orders" -> 0.7 // pinned r18 (was provisional 1.30) (design 1.3: per-user lead + bounded (from,to) census); measured r18 full-gate 0.10
  )

  /** Probe-only drivers for operators whose CATALOG query deliberately
    * fixes its input size (the q69/q310 convention: a constant slice so
    * bench cost measures the algorithm, not a synthetic vocabulary's
    * quadratic pair OUTPUT). The probe variant removes the slice and runs
    * the operator over the full scaling corpus — the r10 verdict asked
    * for exactly this on ED-Join, whose df-order prefix filter is what a
    * 5× corpus stresses. The synthesized big side rotates p_name letters
    * per copy (see [[synthesize]]) so cross-copy exact-name clones don't
    * reintroduce the quadratic output the slice existed to avoid. */
  val probeOnly: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "probe_edit_join_full" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      // document-title corpus, NOT part names: p_name draws from a 64-name
      // vocabulary, so a full-corpus join has ~n²/64 identical-name pairs
      // (6.3M at sf0.1) — output-quadratic by construction, measuring the
      // synthetic vocabulary, not the prefix filter. 40-char document
      // prefixes are ~unique (4756/5000 at sf0.1) and the synthesizer
      // rotates text per copy, so pair output scales with the corpus.
      val names = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("id"),
          substring(col("text"), 1, 40).as("s"))
      // typo-id offset 1e11, far above any synthesized id (copies offset
      // i·1e8): the old +1e9 COLLIDED with copy ≥10's original ids on deep
      // runs — two different strings under one id, inflating candidate
      // pairs and garbling the per-id prefix windows (r17: both 20×
      // readings and the 40× OOM carried this; 5× runs were never
      // affected). The typo string expr reads the pre-offset `id`, so the
      // offset choice does not change typo placement.
      val typos = names.filter(pmod(col("id"), lit(4)) === 0).select(
        (col("id") + 100000000000L).as("id"),
        expr("concat(substring(s, 1, CAST(id % 10 AS INT) + 5), 'q', " +
          "substring(s, CAST(id % 10 AS INT) + 7, 200))").as("s"))
      graft.text.Dedup.qgramEditJoin(names.unionByName(typos), "id", "s",
          q = 2, maxDistance = 1)
        .agg(count(lit(1)).as("n_pairs"), sum(col("distance")).as("sum_d"))
    },
    // q317's shape over SCALING order keys: probe side grows with the
    // corpus, build side (suppliers) is fixed context — pairs ∝ probe rows
    "probe_spatial_join_orders" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val probe = s.read.parquet(s"$dir/orders.parquet").select(
        col("o_orderkey").as("id"),
        pmod(col("o_orderkey") * 48271L, lit(1000L)).as("x"),
        pmod(col("o_orderkey") * 16807L, lit(1000L)).as("y"))
      val build = s.read.parquet(s"$dir/supplier.parquet").select(
        col("s_suppkey").as("sid"),
        pmod(col("s_suppkey") * 48271L, lit(1000L)).as("sx"),
        pmod(col("s_suppkey") * 16807L, lit(1000L)).as("sy"))
      graft.operators.Geo.gridDistanceJoin(probe, build, "x", "y", "sx", "sy", 50L)
        .agg(count(lit(1)).as("n_pairs"), sum(col("d2")).as("sum_d2"))
    },
    // q319's shape at CONSTANT density: each synthesized copy tiles a NEW
    // 1000-wide x-band (the realistic geo scale-up — more area, same
    // density), so neighbor volume grows linearly and cluster count ×k;
    // an un-tiled probe would densify one field and measure the k²
    // synthesis, not the operator
    "probe_dbscan_tiled" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      // wider ±50 jitter than the catalog fixture: order volume is ~100×
      // the customer fixture per blob, so the box grows to keep neighbor
      // volume probe-sized — the probe measures join+CC scaling, not an
      // artificially saturated clique
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        col("o_orderkey").as("id"),
        (expr("(o_orderkey div 100000000) * 2100") +
          pmod(pmod(col("o_orderkey"), lit(40L)), lit(8L)) * 250L + 125L +
          pmod(col("o_orderkey") * 48271L, lit(101L)) - 50L).as("x"),
        (expr("(o_orderkey % 40) div 8") * 250L + 125L +
          pmod(col("o_orderkey") * 16807L, lit(101L)) - 50L).as("y"))
      graft.operators.Geo.gridDbscan(pts, "id", "x", "y", eps = 6L, minPts = 3)
        .groupBy("role").agg(count(lit(1)).as("n"))
    },
    "probe_tile_pyramid_orders" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val pts = s.read.parquet(s"$dir/orders.parquet").select(
        pmod(col("o_orderkey") * 48271L, lit(1024L)).as("x"),
        pmod(col("o_orderkey") * 16807L, lit(1024L)).as("y"))
      graft.operators.Geo.tilePyramid(pts, "x", "y", bits = 6, coordBits = 10)
        .groupBy("level").agg(sum(col("cnt")).as("n"), count(lit(1)).as("cells"))
    },
    // q341's shape at CONSTANT density: each synthesized copy's boxes land
    // in a fresh 1100-wide x-band (copy = o_orderkey div 1e8), so box
    // density per tile stays fixed and overlap pairs grow linearly — an
    // un-tiled probe would densify one field and measure the k² synthesis
    "probe_bbox_overlap_tiled" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val o = s.read.parquet(s"$dir/orders.parquet")
      def side(parity: Int, idc: String, p: String) = o
        .filter(pmod(col("o_orderkey"), lit(2L)) === parity)
        .select(
          col("o_orderkey").as(idc),
          (expr("(o_orderkey div 100000000) * 1100") +
            pmod(col("o_orderkey") * 48271L, lit(1000L))).as(s"${p}x1"),
          (expr("(o_orderkey div 100000000) * 1100") +
            pmod(col("o_orderkey") * 48271L, lit(1000L)) +
            pmod(col("o_orderkey"), lit(30L)) + 5L).as(s"${p}x2"),
          pmod(col("o_orderkey") * 16807L, lit(1000L)).as(s"${p}y1"),
          (pmod(col("o_orderkey") * 16807L, lit(1000L)) +
            pmod(col("o_orderkey"), lit(23L)) + 5L).as(s"${p}y2"))
      graft.operators.Geo.bboxOverlapJoin(
          side(0, "lid", "l"), side(1, "rid", "r"),
          "lx1", "lx2", "ly1", "ly2", "rx1", "rx2", "ry1", "ry2", tile = 32L)
        .agg(count(lit(1)).as("n_pairs"), sum(col("lid") + col("rid")).as("checksum"))
    },
    // row-scale key census (≈ n/2 distinct keys) with a planted hot key —
    // the exact shape the r12 verdict flagged: the Gini rank pass must
    // stay distributed when the census itself grows with the data
    "probe_skew_report" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val li = s.read.parquet(s"$dir/lineitem.parquet").select(
        when(pmod(col("l_orderkey"), lit(100L)) < 3L, -1L)
          .otherwise(expr("l_orderkey div 2")).as("jk"))
      graft.operators.SkewJoin.skewReport(li, Seq("jk"))
    },
    "probe_bootstrap_lineitem" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val li = s.read.parquet(s"$dir/lineitem.parquet").select(
        col("l_returnflag"),
        (col("l_orderkey") * 8L + col("l_linenumber")).as("id"),
        col("l_quantity").cast("long").as("v"))
      graft.operators.Resample.bootstrapMeanCi(li, "id", "v", reps = 64,
        loRank = 2, hiRank = 63, groupCols = Seq("l_returnflag"))
    },
    // q129's degree-oriented triangle count with per-copy DISJOINT supplier
    // universes. The catalog query's graph keys on the SHARED ~4000-supplier
    // vocabulary, which synthesize() saturates: measured at 5×, edges grow
    // 9.5× and oriented WEDGES 101× (≈ 5^2.87) — a direct probe measures
    // that densification, not the operator (same class as the dbscan/bbox
    // tiling fix; q129's exponent read 1.34–1.78 across rounds on identical
    // bytes because the gate was pricing the synthesis against factor 5).
    // suppkey + copy·10⁶ replicates the small graph disjointly: edges AND
    // wedges ∝ data.
    "probe_triangles_disjoint" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val os = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"),
          (col("l_suppkey") + expr("(l_orderkey div 100000000) * 1000000")).as("sk"))
        .distinct()
      val a = os.select(col("l_orderkey"), col("sk").as("sa"))
      val b = os.select(col("l_orderkey"), col("sk").as("sb"))
      val edges = a.join(b, Seq("l_orderkey"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 5)
        .select(col("sa").as("src"), col("sb").as("dst"))
        .localCheckpoint(true)
      edges.agg(count(lit(1)).cast("long").as("n_edges"))
        .crossJoin(graft.operators.Graph.triangleCount(edges))
    },
    // q373's per-node clustering coefficient with per-copy DISJOINT
    // supplier universes (same reasoning as probe_triangles_disjoint: the
    // catalog query's shared ~4000-supplier vocabulary densifies
    // quadratically under synthesize(), measuring the synthesis, not the
    // operator). Output aggregated so timing measures the wedge pipeline,
    // not a node-table write.
    "probe_lcc_disjoint" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val os = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"),
          (col("l_suppkey") + expr("(l_orderkey div 100000000) * 1000000")).as("sk"))
        .distinct()
      val a = os.select(col("l_orderkey"), col("sk").as("sa"))
      val b = os.select(col("l_orderkey"), col("sk").as("sb"))
      val edges = a.join(b, Seq("l_orderkey"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 5)
        .select(col("sa").as("src"), col("sb").as("dst"))
      graft.operators.Graph.localClusteringPpm(edges)
        .agg(count(lit(1)).as("n_nodes"), sum(col("tri")).as("tri_sum"),
          sum(col("lcc_ppm")).as("lcc_checksum"))
    },
    // q284's SCC shape over a SCALING dense keyspace. The catalog fixture
    // keys on p_partkey < 4·(n/4) — a dense prefix that synthesize()'s
    // 1e8 copy offsets fall entirely outside, so a direct probe runs the
    // SAME graph at both sizes (three rounds of ≈ -0.00 exponents were
    // vacuous). Replicated here over range(4·(part_count/4)): n/4 4-node
    // directed rings, a one-way cross edge every 3rd ring (links SCCs
    // without merging them — SCC sizes stay {1,4} while ring count ∝
    // data), and a dead-end tail every 20th node. Tail offset 1e9, not
    // the catalog's 1e6: at deep factors (part count > 1e6) a 1e6 offset
    // would collide tail ids with real node ids and merge components.
    "probe_scc_scaled" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val n = s.read.parquet(s"$dir/part.parquet").count()
      val maxRing = n / 4
      val kept = s.range(4L * maxRing).select(col("id").as("k"))
      val ring = kept.select(col("k").as("src"),
        (col("k") - pmod(col("k"), lit(4)) + pmod(pmod(col("k"), lit(4)) + 1, lit(4))).as("dst"))
      val cross = kept.filter(pmod(col("k"), lit(4)) === 0)
        .withColumn("i", expr("k div 4"))
        .filter(col("i") % 3 === 1 && col("i") < maxRing - 1)
        .select((col("i") * 4).as("src"), ((col("i") + 1) * 4).as("dst"))
      val single = kept.filter(col("k") % 20 === 0)
        .select(col("k").as("src"), (col("k") + 1000000000L).as("dst"))
      // the catalog query's scoped shuffle width: the fixpoint rounds are
      // many tiny stages whose job overhead, not data, dominates locally
      val prevP = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val scc =
        try graft.operators.Graph.stronglyConnectedComponents(
          ring.unionByName(cross).unionByName(single))
        finally s.conf.set("spark.sql.shuffle.partitions", prevP)
      scc.groupBy(col("scc")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").cast("long").as("scc_size"))
        .agg(count(lit(1)).cast("long").as("n_sccs"),
          sum(col("scc")).cast("long").as("sum_labels"))
    },
    // q180's label propagation with per-copy DISJOINT supplier universes
    // (the probe_triangles/probe_lcc reasoning: the catalog graph keys on
    // the shared ~4000-supplier vocabulary, which synthesize() densifies
    // instead of growing — a direct probe measures co-occurrence
    // saturation, not the operator). Edges AND per-round label-frontier
    // volume ∝ data under disjoint replication.
    "probe_labelprop_disjoint" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val os = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"),
          (col("l_suppkey") + expr("(l_orderkey div 100000000) * 1000000")).as("sk"))
        .distinct()
      val a = os.select(col("l_orderkey"), col("sk").as("sa"))
      val b = os.select(col("l_orderkey"), col("sk").as("sb"))
      val edges = a.join(b, Seq("l_orderkey"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 5)
        .select(col("sa").as("src"), col("sb").as("dst"))
      graft.operators.Graph.labelPropagation(edges, iterations = 4)
        .agg(count(lit(1)).as("n_nodes"),
          countDistinct(col("lbl")).as("n_communities"),
          sum(col("lbl")).as("lbl_checksum"))
    },
    // q346's shape over SCALING orders (events copies through unscaled):
    // fixed user vocabulary, more activity per user — the (user, period)
    // census saturates, the linear cost is the scan + distinct
    "probe_retention_orders" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val ev = s.read.parquet(s"$dir/orders.parquet").select(
        col("o_custkey").as("user_id"),
        pmod(col("o_orderkey") * 48271L, lit(200L)).as("day"))
      graft.operators.EventAnalytics.retentionCohorts(ev, "user_id", "day", 7)
        .agg(count(lit(1)).as("cells"), sum(col("n_active")).as("total_active"),
          sum(col("retention_ppm")).as("ppm_checksum"))
    },
    // round-18 event-analytics probes: the sessionize/funnel/markov family
    // reads events.parquet, which synthesize() copies through UNSCALED, so
    // the family had ZERO scale probes. Each driver replays the catalog
    // shape over SCALING orders-as-events: fixed user vocabulary
    // (o_custkey), activity per user ∝ factor — the realistic growth
    // shape, and exactly what stresses the per-user window sorts.
    // q58's gap sessionization: per-user timestamp sort + lag + running
    // session count; events per user grow ∝ factor over a FIXED 30-day
    // span, so sessions merge as density rises (cost is the sort, not the
    // output)
    "probe_sessions_orders" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val ev = s.read.parquet(s"$dir/orders.parquet").select(
        col("o_custkey").as("user_id"),
        timestamp_seconds(lit(1000000000L) +
          pmod(col("o_orderkey") * 48271L, lit(2592000L))).as("ts"))
      graft.time.Sessionize.sessionStats(ev, "ts", gapSeconds = 600L, Seq("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          sum(col("duration_sec")).cast("long").as("dur_checksum"))
    },
    // q246's three-stage windowed funnel (first view → first click ≤ 1 h →
    // first purchase ≤ 24 h): user-keyed min-aggregations + window-bounded
    // joins, all row-linear censuses over the fixed user vocabulary
    "probe_funnel_orders" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.DataFrame
      val ev = s.read.parquet(s"$dir/orders.parquet").select(
        col("o_custkey").as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("purchase")),
          (pmod(col("o_orderkey"), lit(3L)) + 1).cast("int")).as("event_type"),
        (lit(1000000000000000L) +
          pmod(col("o_orderkey") * 16807L, lit(86400000000L))).as("tu"),
        col("o_orderkey").as("eid"))
      def firstOf(df: DataFrame, name: String) =
        df.groupBy(col("user_id")).agg(min(struct(col("tu"), col("eid"))).as(name))
      val v = firstOf(ev.filter(col("event_type") === "view"), "v")
        .select(col("user_id"), col("v.tu").as("vt"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("tu") > col("vt") && col("tu") <= col("vt") + 3600000000L)
      val cf = firstOf(c, "c").select(col("user_id"), col("c.tu").as("ct"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(cf, Seq("user_id"))
        .filter(col("tu") > col("ct") && col("tu") <= col("ct") + 86400000000L)
      v.agg(count(lit(1)).cast("long").as("n_view")).crossJoin(
        cf.agg(count(lit(1)).cast("long").as("n_click_1h")))
        .crossJoin(firstOf(p, "p").agg(count(lit(1)).cast("long").as("n_purchase_24h")))
    },
    // markov transition census: per-user lead over an ordered event stream
    // → (from, to) census + per-row-total window; states bounded (5
    // priorities), transitions ∝ rows
    "probe_markov_orders" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val ev = s.read.parquet(s"$dir/orders.parquet").select(
        col("o_custkey").as("user_id"),
        pmod(col("o_orderkey") * 48271L, lit(1000000L)).as("ord"),
        col("o_orderkey").as("tie"),
        col("o_orderpriority").as("state"))
      graft.operators.EventAnalytics.markovTransitions(ev, "user_id", "ord", "tie", "state")
        .agg(count(lit(1)).as("n_cells"), sum(col("n_trans")).as("n_trans"),
          sum(col("p_ppm")).as("ppm_checksum"))
    })

  /** Synthesize a k× scale-up of a testdata directory for the probe's big
    * side: every table is unioned k times with DISJOINT id spaces (offset
    * 10⁸ per copy — small enough that modular hash arithmetic stays in
    * range) and per-copy CONTENT perturbation, so structure replicates
    * instead of densifying:
    *   - documents.text: per-copy letter permutation (translate; keyed
    *     Fisher–Yates, distinct for any copy count — see the r17 note at
    *     `rotated`) — without it
    *     every doc has k exact clones and dedup candidate sets grow k² in
    *     cross-copy pairs, measuring the synthesis, not the operator;
    *   - embeddings.embedding: per-copy deterministic sign pattern per
    *     dimension — same reason for similarity joins;
    *   - lineitem/orders: key offsets only (item spaces like l_partkey %
    *     300 deliberately saturate — a fixed vocabulary is the realistic
    *     shape there, and a saturating graph can only LOWER an exponent).
    * Remaining tables copy through untouched (dimension tables are
    * size-independent context). */
  def synthesize(spark: SparkSession, srcDir: String, dstDir: String, k: Int): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.DataFrame
    require(k >= 2, s"synthesize: k must be >= 2, got $k")
    val off = 100000000L
    val letters = "etaoinsrhl"
    // Per-copy letter PERMUTATION, not rotation (r17 fix): rotations cycle
    // at letters.length = 10, so the r16 20× deep run gave copies i and
    // i+10 an IDENTICAL vocabulary mapping — every document had an exact
    // cross-copy clone, inflating q-gram df ×(k/10) and identical-text
    // pair output quadratically WITHIN rotation classes. That is the
    // "measuring the synthesis, not the operator" trap this function's own
    // scaladoc warns about, and it contaminated probe_edit_join_full's 20×
    // reading (1.27). A deterministic Fisher–Yates keyed by the copy index
    // yields distinct mappings for any realistic k (10! arrangements);
    // copy 0 stays identity, and lengths/gram structure are preserved
    // exactly as with rotation.
    def rotated(i: Int): String = {
      val arr = letters.toCharArray
      var seed = (i.toLong * 2654435761L) % 1000000007L + 1L
      for (j <- arr.length - 1 to 1 by -1) {
        seed = (seed * 48271L) % 2147483647L
        val m = (seed % (j + 1)).toInt
        val t = arr(j); arr(j) = arr(m); arr(m) = t
      }
      new String(arr)
    }
    def copies(name: String)(perturb: (DataFrame, Int) => DataFrame): Unit = {
      val src = spark.read.parquet(s"$srcDir/$name.parquet")
      (0 until k).map(i => perturb(src, i)).reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
    }
    copies("documents") { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * off))
        .withColumn("text",
          if (i == 0) col("text") else translate(col("text"), letters, rotated(i)))
    }
    copies("embeddings") { (df, i) =>
      df.withColumn("vec_id", col("vec_id") + lit(i * off))
        .withColumn("embedding",
          if (i == 0) col("embedding")
          else expr(s"transform(embedding, (x, j) -> CAST(x * (1 - 2 * pmod(hash(j, $i), 2)) AS FLOAT))"))
    }
    copies("lineitem")((df, i) => df.withColumn("l_orderkey", col("l_orderkey") + lit(i * off)))
    // o_custkey stays UNOFFSET (fixed customer vocabulary, like l_partkey):
    // customer copies through untouched below, so offsetting would leave
    // every non-zero copy's orders with dangling FKs and a customer-join
    // probe would silently measure a near-empty join
    copies("orders")((df, i) => df.withColumn("o_orderkey", col("o_orderkey") + lit(i * off)))
    // part scales with disjoint keys AND per-copy brand suffix: q115's
    // edit-distance blocking keys on (p_brand, len), so unperturbed copies
    // would put k clones of every name in one block (k² candidates — the
    // synthesis, not the operator); a per-copy brand is the realistic
    // "more data = more brands" shape. q253's p_partkey arithmetic (%10,
    // %100 patterns) survives the 1e8 offset, so its components replicate
    // disjointly.
    // p_name is letter-permuted per copy like documents.text: the full-corpus ED-Join
    // probe would otherwise see k exact clones of every name (identical-
    // name pair output grows k² in cross-copy pairs — the synthesis, not
    // the operator); rotation preserves lengths and gram structure.
    copies("part") { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * off))
        .withColumn("p_brand",
          if (i == 0) col("p_brand") else concat(col("p_brand"), lit(s"#$i")))
        .withColumn("p_name",
          if (i == 0) col("p_name") else translate(col("p_name"), letters, rotated(i)))
    }
    Seq("region", "nation", "customer", "supplier", "events").foreach { name =>
      val p = new java.io.File(s"$srcDir/$name.parquet")
      if (p.exists()) spark.read.parquet(p.toString)
        .write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--synthesize")) {
      val Array(_, src, dst, k) = args.take(4)
      val s = graft.core.GraftSession.driver()
      synthesize(s, src, dst, k.toInt)
      s.stop()
      return
    }
    val smallDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val bigDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val outFile = args.lift(2).getOrElse("SCALE.json")
    // growth factor between the two directories' data volumes; sf encodes it
    val factor = args.lift(3).map(_.toDouble).getOrElse(10.0)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val spark = graft.core.GraftSession.driver()
    // untimed warmup (JIT/codegen/parquet-reader init)
    try graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // untimed first-touch of EVERY table on BOTH sides: the big side is
    // typically a freshly synthesized directory, and without this the
    // first probe in the list pays its cold page-cache read inside its
    // timed big-side run — measured as a phantom exponent (r15: q29, the
    // list head, recorded 1.15 in the full suite and 0.58 in isolation
    // with a warm cache; the gate must not depend on probe ORDER)
    for (dir <- Seq(smallDir, bigDir)) {
      val d = new java.io.File(dir)
      val tables = Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      tables.foreach { t =>
        try spark.read.parquet(t).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    }

    val catalog = graft.SparkEntry.queries
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // min-of-N steady-state time, like Bench (cold runs measure JIT noise)
    def timeOne(name: String, dir: String): Double = {
      val fn = catalog.getOrElse(name, probeOnly(name))
      (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        // localCheckpoint RDDs created inside probed queries aren't covered
        // by clearCache — without this they accrue block-manager memory
        // across 21 probes × N runs and starve the late big-side probes
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        dt
      }.min
    }

    // dev iteration: 5th arg = comma-separated probe filter (the driver
    // and Doctor never pass it → full list)
    val only = args.lift(4).map(_.split(",").toSet)
    val results = probes.filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, bound) =>
      // a probe that THROWS (an overflow the big side exposes is itself a
      // scale finding — q323's rho_b BIGINT moments did exactly that) must
      // record a failed row, not kill the remaining probes and the artifact
      try {
        val tSmall = timeOne(name, smallDir)
        val tBig = timeOne(name, bigDir)
        // subtract nothing, declare honestly: overhead at the small size can
        // only make the exponent SMALLER, so a violation is a true positive
        val exponent = math.log(tBig / tSmall) / math.log(factor)
        val pass = exponent <= bound
        System.err.println(
          f"[scale] $name%-24s small=${tSmall}%6.2fs big=${tBig}%6.2fs " +
            f"exp=$exponent%5.2f bound=$bound%4.2f ${if (pass) "ok" else "FAIL"}")
        (name, tSmall, tBig, exponent, bound, pass, None: Option[String])
      } catch {
        case e: Throwable =>
          val msg = (s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("")).take(200)
          System.err.println(f"[scale] $name%-24s ERROR $msg")
          (name, 0.0, 0.0, 0.0, bound, false, Some(msg))
      }
    }
    val allPass = results.forall(_._6)
    import graft.query.Json.quote
    val body = results.map { case (n, ts, tb, e, b, p, err) =>
      s"""${quote(n)}:{"t_small":${fmt(ts)},"t_big":${fmt(tb)},"exponent":${fmt(e)},""" +
        s""""bound":$b,"pass":$p${err.map(m => s""","error":${quote(m)}""").getOrElse("")}}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"small":${quote(smallDir)},"big":${quote(bigDir)},"factor":$factor,"runs":$runs,""" +
        s""""probes":$body,"pass":$allPass}"""
    // a filtered dev run must never clobber the full-gate artifact
    // (the bench_detail.json lesson) — partials land in a sidecar
    val outPath = if (only.isDefined) outFile + ".partial" else outFile
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    spark.stop()
    println(json)
    if (!allPass) sys.exit(1)
  }
}
