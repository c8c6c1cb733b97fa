package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** One-order-of-magnitude scale-trend probe (round-7 audit item): the
  * 100× claims in PLANS.md are argued from plan SHAPE; this main adds a
  * measured data point by timing the most expensive queries at sf0.1
  * and at a synthesized 10× of it, and comparing the executed-plan
  * operator skeletons across scales (a scalable plan is the SAME plan,
  * just with more bytes per exchange).
  *
  * The 10× inputs are derived from `/root/testdata/sf0.1` (written
  * under `target/`, never next to the testdata):
  *  - `lineitem` ×10 with per-replica l_orderkey offsets — join/sort
  *    queries care about cardinality and key structure, not content.
  *  - `documents` ×10 with fresh doc_ids AND every word tagged with
  *    the replica number (`hello world` → `hello·3 world·3`). A
  *    verbatim text copy would make every document a 10-way
  *    near-duplicate family, which scales the pair graph superlinearly
  *    BY CONSTRUCTION and would measure an artifact, not the engine.
  *    Word-tagging maps each replica's shingle space bijectively — the
  *    INTERNAL duplicate/near-duplicate structure of every replica is
  *    exactly the original's — while cross-replica shingles never
  *    match (every token differs), so the dup-rate per unit of corpus
  *    is exactly preserved. (A content-keyed word PERMUTATION was
  *    tried first and rejected: sorting words canonicalizes word order
  *    away, so any two docs with similar vocabulary collapse into
  *    near-identical strings — 11.6M artifact pairs at 10×.)
  *  - `orders` ×10 with o_orderkey offsets (small, kept for pipelines
  *    that read it).
  *  - `embeddings` ×10 with vec_id offsets (vectors verbatim — ANN
  *    cost scales with corpus/cell size, not vector content).
  *  - `events` ×10 with user_id/event_id offsets (per-user session/
  *    dedup structure preserved per replica, no cross-replica key
  *    collapse), landed as ONE FILE so the streaming readers'
  *    `pathGlobFilter=events.parquet` still matches.
  *
  * Run: `sbt "runMain graft.ScaleProbe"` (env `SPARK_GRAFT_CPUS`,
  * default 32 to match the driver's local[32]). Prints one JSON line:
  * per-query seconds at both scales, the ratio, and whether the plan
  * skeleton matched.
  */
object ScaleProbe {

  /** Default probe scale; `SPARK_GRAFT_SCALE=100` switches to the
    * 100× mode (round-10 verdict item 6): same replica-offset/word-tag
    * construction, 100 replicas, restricted to the top-cost families —
    * the families whose 100 TB story previously rested on 10× evidence
    * alone. The 100× build skips events/embeddings (none of the target
    * families read them) and the query list is PINNED to families whose
    * inputs are all scaled — probing anything else at 100× would
    * silently read 1× side tables and report an artifact ratio.
    */
  private val DefaultReps = 10

  val Scale100Queries: Seq[String] = Seq(
    "bpe_train_merges",          // documents — the Heaps-sublinear claim
    "dedup_cluster_cc",          // documents — CC rounds vs component diameter
    "pipeline_curate_corpus",    // documents — the 2.19@10× watch item
    "graph_pagerank_personalized", // lineitem — frontier rounds on a support-floored graph
    "streaming_checksum",        // orders (single file) — the split-scan fix
    // second wave (documents-only inputs, so already fully scaled):
    // the banded-minhash candidate path, the df-capped shingle join,
    // and the TopKPerKey TF-IDF rollup
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "tfidf_top_terms",
    // third wave: the rolling-hash winnowing scan (documents — the
    // "linear in corpus chars" claim), the tokenize→pack pipeline
    // (documents — range shuffle + broadcast offsets on top of the
    // 100×-proven BPE chain), and the basket itemset miner (lineitem
    // scaled; `part` stays a 1× DIMENSION like region/nation, which is
    // the honest 100-TB shape — a fixed catalog under growing sales,
    // so the pair/rule alphabet is bounded while support counts ride
    // the fact table)
    "fingerprint_winnow", "pipeline_tokenize_pack", "assoc_rules_lift",
    // fourth wave: the 100× input build now includes events +
    // embeddings (V2 marker), so the ANN, stateful-streaming, and
    // evaluation families get their first 100× datapoints — the
    // occupancy-adaptive LSH plane count and the IVF cell fan-out are
    // exactly the mechanisms whose 100× behavior the 10× probe cannot
    // show, and streaming_cusum is the board's last >1.8@10× curve
    "ann_lsh_bucketed", "ann_ivf_topk", "streaming_dedup",
    "streaming_cusum", "anova_f_oneway", "kruskal_wallis_h",
    // lineitem-only (inputs were always fully scaled; the support
    // floor and basket bound are the claims to test two decades up)
    "recsys_item_similarity", "graph_triangles",
    // session wave (documents-only): the Heaps-sublinear bigram-TYPE
    // claim behind the KN continuation table — the one new family
    // whose 100× behavior the 10× probe cannot distinguish from
    // corpus-linear (types grow with VOCABULARY², occurrences with
    // the corpus; 0.63 at 10× could still hide a slow type blowup)
    "lm_kn_continuation",
    // round-12: the physical HDF5 sink (lineitem-only) — 60M edges
    // through metadata planning + executor pwrite slices + the
    // distributed read-back; the container I/O path is exactly what a
    // 10× probe cannot stress (a 3.5 GB file has real positional-write
    // contention a 350 MB one does not)
    "edges_to_sonata_h5",
    // round-13: the container chain's INDEX read-back face — the two
    // readPairs scans plus the dense primary reconstruction are the
    // half a libsonata consumer actually traverses (the edges face
    // alone leaves the CSR I/O unprobed at 100×)
    "sonata_h5_indices",
    // round-13 session wave: the Bradley–Terry MM chain (lineitem-only
    // — the ordered in-basket pair fan-out's Σ|basket|² bound and the
    // pair-table-riding MM exchanges are exactly what two decades up
    // must not bend) and the BQ Hamming scan (embeddings-scaled — the
    // corpus-linear claim behind the 32× bit-code compression)
    "bradley_terry_strength", "ann_bq_topk",
    // round-14: the DPO chosen/rejected pair constructor — the decided
    // in-basket pair explode plus the chosen-item-keyed budget window;
    // lineitem-only input, so fully scaled at 100x too
    "dpo_pair_construction",
    // round-14: the unigram-LM EM trainer (documents-only). The
    // word-tagged replicas scale the TYPE vocabulary ~linearly with
    // the corpus — the worst case for a type-riding trainer and
    // exactly the regime the BPE 100x point (1.8) was graded under
    "unigram_lm_train",
    // round-14 (r13 verdict item 7): the planned V2-source read of the
    // 60M-edge container. The harness's count() pushes down to the
    // connector's METADATA-ONLY count, so the v2_source entry times
    // (a) the container build on its first touch and (b) the constant-
    // time count pushdown when re-run in-session (measured 0.05 s at
    // 60M rows) — the actual DATA read path is timed by the
    // sonata_h5_v2_scan_agg face, whose full-width integer checksum
    // cannot push down; run v2_source first in the same session so
    // scan_agg's number excludes the build (the v2Containers cache)
    "sonata_h5_v2_source", "sonata_h5_v2_scan_agg",
    // round-14 continuation: the learned-filter chain (documents ×100;
    // the feature alphabet must stay the broadcastable constant), the
    // exact top-p% filter apply (the globalPosition rank over 500k
    // docs — the production claim), the occupancy-adaptive BQ band
    // miner (500k vectors at the 16-bit width cap — the collision
    // bound two decades up), and the greedy unigram decode (the
    // word-TYPE regime under the ·rep tagging's worst-case linear
    // vocabulary growth, like unigram_lm_train)
    "quality_nb_confusion", "quality_filter_topk_pct",
    "dedup_bq_banded_adaptive", "unigram_apply_segment",
    // r14 continuation session 2 (documents ×100 — all three are the
    // corpus-scaled regimes their 10× probes cannot fully stress):
    // the bigram-LM scoring chain (the model table grows with BIGRAM
    // types — Heaps-superlinear vs unigrams; the scoring joins must
    // ride the stats-driven BHJ→SMJ switch like unigram_lm_train),
    // the paragraph keep-first reconstruct via its unprunable
    // checksum face (the winner table rides distinct paragraphs), and
    // the 3-signal ensemble vote frame (three chains joined doc-keyed
    // at 500k docs)
    "lm_backoff_doc_ppl", "dedup_paragraph_checksum",
    "quality_ensemble_matrix",
    // r14 continuation session 2, wave 2 (documents ×100): the
    // WordPiece trainer rides the same word-TYPE regime as the BPE
    // 100x point but adds the per-round symbol-count join — the pair
    // table must stay alphabet²-bounded two decades up; and the DSIR
    // scoring chain's claim is the inverse shape — a CONSTANT
    // 1024-bucket model under a corpus-linear scan, so its 100x curve
    // must stay flat-per-row where the type-riding trainers grow
    "wordpiece_train_merges", "dsir_doc_scores")

  /** Per-replica word tagging: suffix every word with `·<rep>` — a
    * bijection on each replica's shingle space (internal similarity
    * structure exactly preserved) with zero cross-replica overlap.
    */
  private def tagWords(text: org.apache.spark.sql.Column, rep: Int) =
    concat_ws(" ", transform(split(text, " "), w => concat(w, lit(s"·$rep"))))

  /** The 100× build (V2) includes events + embeddings like the 10×
    * build: 10M events land as one 8 MB-row-group file (~1 min, cached
    * behind the marker) and 500k vectors as a dataset directory, which
    * is what lets the ANN/streaming/evaluation families carry 100×
    * datapoints. `full = false` survives for callers that want the
    * cheap documents+lineitem-only build.
    */
  private def buildScaled(spark: SparkSession, srcDir: String, outDir: String,
                          Reps: Int, full: Boolean): Unit = {
    val fs = java.nio.file.Paths.get(outDir)
    // V3: round 9 lands orders as one file for the streaming readers
    // (V2: round 8 added scaled embeddings + events); the marker bump
    // invalidates stale dirs
    // V4: single-file tables (orders, events) now land with 8 MB parquet
    // row groups — the V3 coalesce(1) write produced ONE row group, and
    // parquet splits are row-group-aligned, so every streaming/batch
    // scan of those files ran as a single task however big the file
    // grew (the round-10 "streaming_checksum 3.1x" curve was exactly
    // this artifact, adjudicated round 11 by per-task metrics)
    val marker =
      if (Reps == DefaultReps) "_SUCCESS_SCALED_V4" else s"_SUCCESS_SCALED_${Reps}x_V2"
    if (java.nio.file.Files.exists(fs.resolve(marker))) return
    java.nio.file.Files.createDirectories(fs)

    val docs = Tables.documents(spark, srcDir)
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0) + 1
    val scaledDocs = (0 until Reps).map { i =>
      val base = docs.withColumn("doc_id", col("doc_id") + lit(i * maxDoc))
      val txt =
        if (i == 0) base
        else base.withColumn("text", tagWords(col("text"), i))
      txt.withColumn("n_chars", length(col("text")))
        .select("doc_id", "text", "lang", "source", "n_chars")
    }.reduce(_ unionByName _)
    scaledDocs.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val li = Tables.lineitem(spark, srcDir)
    val maxOrder = li.agg(max("l_orderkey")).head.getLong(0) + 1
    (0 until Reps).map(i => li.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOrder)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    // orders lands as ONE FILE like events: streaming readers
    // (streaming_checksum, streaming_cdc_upsert) list with
    // pathGlobFilter=orders.parquet, which matches a file — a dataset
    // DIRECTORY of part-files silently reads zero rows (caught by the
    // round-9 third-wave probe: 64 digest rows at sf0.1, 0 at 10x)
    val ord = Tables.orders(spark, srcDir)
    val maxO = ord.agg(max("o_orderkey")).head.getLong(0) + 1
    val ordTmp = s"$outDir/_orders_build"
    (0 until Reps).map(i => ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * maxO)))
      .reduce(_ unionByName _)
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", (8 * 1024 * 1024).toString)
      .parquet(ordTmp)

    val deleteRecursively: java.nio.file.Path => Unit = { p =>
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.delete)
        finally walk.close()
      }
    }

    if (full) {
    // embeddings ×10 with per-replica vec_id offsets, vectors verbatim —
    // ANN cost scales with corpus size and cell occupancy, not vector
    // content; the fixed `vec_id < 10` query set stays 10 queries
    val emb = Tables.embeddings(spark, srcDir)
    val maxVec = emb.agg(max("vec_id")).head.getLong(0) + 1
    (0 until Reps).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * maxVec)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // events ×10 with per-replica user_id/event_id offsets (preserving
    // each replica's per-user dedup/session structure, no cross-replica
    // key collapse), ts verbatim. Read RAW with nanosAsLong (a legacy
    // TIMESTAMP(NANOS) column arrives as a plain long; the streaming
    // sources footer-sniff the same physical type) and land it as ONE
    // FILE named events.parquet — the streaming readers list with
    // `pathGlobFilter=events.parquet`, which matches a file, not the
    // part-files inside a dataset directory.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$srcDir/events.parquet")
    val maxRow = ev.agg(max("user_id"), max("event_id")).head
    val maxUser = maxRow.getLong(0) + 1
    val maxEvent = maxRow.getLong(1) + 1
    val evTmp = s"$outDir/_events_build"
    (0 until Reps).map(i => ev
        .withColumn("user_id", col("user_id") + lit(i * maxUser))
        .withColumn("event_id", col("event_id") + lit(i * maxEvent)))
      .reduce(_ unionByName _)
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", (8 * 1024 * 1024).toString)
      .parquet(evTmp)
    deleteRecursively(fs.resolve("events.parquet"))
    val evPart = {
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(evTmp))
      try listing.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $evTmp"))
      finally listing.close()
    }
    java.nio.file.Files.move(evPart, fs.resolve("events.parquet"))
    deleteRecursively(java.nio.file.Paths.get(evTmp))
    } // full

    deleteRecursively(fs.resolve("orders.parquet"))
    val ordPart = {
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(ordTmp))
      try listing.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $ordTmp"))
      finally listing.close()
    }
    java.nio.file.Files.move(ordPart, fs.resolve("orders.parquet"))
    deleteRecursively(java.nio.file.Paths.get(ordTmp))

    // remaining tables pass through unscaled (dimension-sized) as RAW
    // byte copies
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      val dst = fs.resolve(s"$t.parquet")
      // a prior aborted build may have left a DIRECTORY here (Spark
      // writes datasets as directories); clear whatever exists
      deleteRecursively(dst)
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$srcDir/$t.parquet"), dst)
    }
    java.nio.file.Files.createFile(fs.resolve(marker))
  }

  /** Operator skeleton of the final executed plan: operator names in
    * tree order, stripped of ids/paths/stats, so the same logical
    * strategy at two scales compares equal even though partition
    * counts and input sizes differ.
    */
  private def skeleton(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.linesIterator
      .map(_.replaceAll("^[-+*: (\\d)]+", "")
        .takeWhile(c => c != ' ' && c != '(')) // strip args: expr ids differ per run
      .filter(_.nonEmpty)
      .filterNot(s => s.startsWith("Reused") || s.startsWith("Subquery") ||
        s.startsWith("==")) // AQE final-plan banner lines
      .mkString(">")

  /** Default 10x probe set — the families whose 100 TB story needs a
    * measured trend datapoint (see ProbeInventory for the machine-
    * readable exemption map covering every OTHER registered query).
    */
  val Probed10x: Seq[String] = Seq(
      "dedup_canonical_corpus", "dedup_cluster_cc",
      "dedup_ngram_jaccard", "pipeline_curate_corpus", "rle_group_ranges",
      // round-8 additions: the remaining expensive families (banded
      // minhash, TF-IDF, cell-probe ANN, salted skew join, stateful
      // streaming dedup) — embeddings/events now scale with replica
      // key offsets like documents/lineitem
      "tfidf_top_terms", "ann_ivf_topk", "dedup_minhash_lsh",
      "join_salted_skew", "streaming_dedup",
      // round-8 second wave: support-thresholded triangle counting,
      // basket-bounded item similarity, shingle prefix-filter join,
      // fused ANN rankings (word-tagged documents preserve per-replica
      // shingle structure; embeddings scale with the corpus while the
      // vec_id<10 query side stays fixed)
      "graph_triangles", "recsys_item_similarity", "dedup_prefix_jaccard",
      "hybrid_rank_fusion",
      // round-9 additions: the fused-round BPE trainer, the banded
      // sign-LSH ANN (occupancy-adaptive planes), and the dangling
      // PageRank's per-round scalar anti-join. dedup_simhash_recall is
      // deliberately NOT probed: its exact side is a Θ(n²) hamming
      // sweep BY DESIGN (a gate-scale correctness companion, not a
      // production operator — measured 13.7× at 10×, as n² predicts)
      "bpe_train_merges", "ann_lsh_bucketed",
      "graph_pagerank_dangling",
      // round-9 session additions: positional-filter join (prefix
      // shingle self-join), wedge-enumeration link prediction,
      // per-key ordered CUSUM windows (key cardinality = the
      // parallelism bound, 5 types here), grid interpolation (grid is
      // span-bounded so 10x data densifies observations, not rows),
      // two-phase selection, and the buffered streaming CUSUM.
      // table_checksum / dq_constraints are single conditional-sum
      // scans — plan-trivially linear, left unprobed.
      "dedup_ppjoin", "graph_link_prediction", "changepoint_cusum",
      "timeseries_interpolate", "exact_median_selection",
      "streaming_cusum",
      // round-9 third wave: md5-argmin walks + personalized PageRank
      // (frontier-round shapes), the binned interval-overlap join,
      // the streaming XOR digest, and seasonal decomposition (grid-
      // bounded like interpolate)
      "graph_walk_sampling", "graph_pagerank_personalized",
      "join_interval_overlap", "streaming_checksum",
      "seasonal_decompose",
      // round-9 analytics wave: the purchase×touch fan-out join
      // (per-user bounded), the grouped global-position ranking under
      // RFM and winsorize (range repartition + bucket prefix sum — the
      // machinery that replaces per-group windows), the co-occurrence
      // graph build + 2 weighted rounds (TextRank), the L1-normalized
      // HITS rounds, and the shifted-activity self-join (growth).
      // unpivot/benford/share_of_parent/trigrams/twap are single-scan
      // keyed aggregates or windows already covered by the cusum-family
      // probes — left unprobed like table_checksum.
      "attribution_linear", "rfm_segments", "winsorize_by_group",
      "textrank_keywords", "graph_hits", "growth_accounting",
      // fifth mini-wave: the corpus-sized position join under random
      // negatives, the groupedSelect histogram path on the event
      // stream, the keyed trigram window, the batched landmark BFS,
      // and the PQ+exact NDCG composition
      "contrastive_negative_sampling", "percentile_bands_hourly",
      "session_trigrams", "graph_multi_source_bfs", "ann_ndcg_check",
      // round-10 additions: the fused RangeRle route (vs the window
      // form probed above), the 100-replicate Poisson bootstrap (the
      // map-side explode must stay map-side), the double rank scan
      // under quantile normalization, and the rank+10-row-window gains
      // table. kappa/mcnemar/sq8/silhouette/js/char-classes are
      // single-aggregate or dim-bounded scans — plan-trivially linear,
      // left unprobed like table_checksum.
      "rle_group_ranges_native", "bootstrap_poisson_means",
      "quantile_normalize", "lift_gains_deciles",
      // round-11 additions: the fused single-shuffle CSR route, the
      // banded aHash image near-dup (pair graph must stay
      // collision-bounded as classes fill), and the byte-weighted
      // media shard packer (two-phase scan over analytic sizes)
      "csr_secondary_index", "multimodal_image_ahash_pairs",
      "multimodal_pack_shards",
      // round-11 LM/recsys wave: bigram-type counting (pair-keyed
      // distinct + three word-keyed joins) and the within-list pair
      // fan-out over the item-similarity chain. zipf (two-phase rank,
      // covered by quantile_normalize), fertility/oov/abtest (single
      // keyed aggregates), adamic-adar (wedge shape, covered by
      // graph_link_prediction), and the two streaming monitors
      // (per-source/lang complete-mode state) are plan-trivially
      // linear or already-covered shapes — left off the record like
      // table_checksum / kappa
      "lm_kn_continuation", "recsys_ild",
      // round-12 admissions (round-11 verdict items 1, 4, 8): the six
      // heaviest round-11 board additions that were unprobed claims —
      // oriented edge support (reoriented this round), conductance
      // (rides modularity's aggregates), power-iteration PCA (one
      // corpus pass + d²-bounded iteration), CC cluster sizes, CUPED
      // (events-scaled single-pass moments), per-source surprisal —
      // plus the keys-scaled CUSUM decomposition (events ×10 grows
      // USERS at fixed per-user depth, vs changepoint_cusum whose
      // 5-key input deepens per key: the two curves separate depth
      // from key-cardinality scaling), the multi-file sorted-name
      // union (orders split into per-residue files, so S3/L2's
      // file-order positions get a scale point), and the physical
      // HDF5 SONATA sink (driver parse-back is the validation face
      // and linear by construction; the sink's distributed body is
      // what the ratio measures)
      "graph_edge_support", "graph_community_conductance",
      "embedding_pca_power", "dedup_cluster_sizes", "abtest_cuped",
      "quality_surprisal_by_source", "changepoint_cusum_by_user",
      "streaming_cusum_by_user", "file_ordered_union",
      "edges_to_sonata_h5",
      // round-13 admissions (round-12 verdict item 1 — the round-12
      // board wave): the container index read-back, the 8-gram
      // explode + keyed agg + TakeOrdered audit, the broadcast-anchor
      // integer-cosine² contamination sweep, the k-means pseudo-label
      // hard-negative miner, the B=1000 equidepth rank-bucket
      // Spearman, and the word-keyed two-snapshot JS drift table.
      // batch_length_buckets is the one exemption: a single stateless
      // projection + a floor-log2-bounded keyed aggregate (≤ ~40
      // groups), plan-trivially linear like table_checksum.
      "sonata_h5_indices", "memorization_ngrams",
      "decontaminate_semantic", "ann_hard_negatives",
      "spearman_bucketed", "vocab_drift_js",
      // round-13 session wave: the full-corpus BQ Hamming scan (the
      // bit-code projection + broadcast-panel rank is the claim — the
      // corpus side must stream through once, never pair with itself)
      // and the triple-regex PII prevalence scan (heavier per row than
      // table_checksum's conditional sums, so it earns a ratio rather
      // than an exemption). ann_bq_rerank_recall rides the same scan
      // plus a 20-per-query-bounded rerank (shortlist-sized joins);
      // pii_redact_audit is the same triple-regex scan shape as
      // detect_counts; pii_redact_docs is doc_id<40-bounded; the
      // streaming PII monitor is per-source complete-mode state like
      // the other unprobed monitors; pii_source_quarantine is the
      // detect_counts scan plus a #sources-sized broadcast anti-join
      // and a second corpus-linear aggregate — all left off the
      // record like table_checksum / kappa.
      "ann_bq_topk", "pii_detect_counts",
      // round-13 session wave 2: the curriculum manifest (token-keyed
      // model join + doc-keyed aggregate + 1-row threshold broadcast —
      // the surprisal-family shape with a percentile fold) and the
      // dedup mixture weights (two hash-keyed aggregates + one
      // hash-keyed equi-join — the dedup_exact shuffle discipline)
      "curriculum_phase_manifest", "mixture_dedup_weights",
      // round-14 (verdict item 8): the 25-gram anchor explode behind
      // repeated-substring detection and removal — the heaviest per-row
      // dedup shape on the board, previously neither probed nor exempted
      "dedup_substring_spans", "dedup_remove_spans",
      // round-14: the DPO pair constructor (decided-pair explode + the
      // chosen-item-keyed budget window) and the unigram-LM EM trainer
      // (word-type substring lattice + two (word,start)/piece-keyed
      // aggregate rounds — the exchange must ride the vocabulary)
      "dpo_pair_construction", "unigram_lm_train",
      // round-14 continuation-2 wave: the DSIR importance chain
      // (in-row bigram hashing + Buckets-bounded broadcast model +
      // doc-keyed aggregate), its two-phase exact-quota apply, the
      // WordPiece likelihood-gain trainer (per-round symbol-count
      // join riding the alphabet²-bounded PAIR table), and the DoReMi
      // multiplicative-weights mixture (one probed backoff-LM scoring
      // pass + #sources-alphabet rounds)
      "dsir_doc_scores", "dsir_select_quota", "wordpiece_train_merges",
      "mixture_doremi_weights",
      // round-14 second wave: the majority-digraph cycle audit — the
      // only new face with join fan-out beyond the probed BT chain
      // (two equi-joins over the co-occurrence-bounded edge set)
      "preference_transitivity_audit")

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.enabled",
        sys.env.getOrElse("SPARK_GRAFT_COALESCE", "true"))
      // cap per-action plan-description generation (see Bench.newSession)
      // — but generously: skeleton() compares executedPlan.toString
      // across scales, and a tight cap would truncate both skeletons to
      // an identical prefix and blind the same-plan check
      .config("spark.sql.maxPlanStringLength",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PLAN_STR", "262144"))
      // same join-strategy baseline as Bench.newSession (guide §3.1/§9)
      // so probe ratios ride the plans the board times
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"))
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_LOCALMAP", "64m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", DefaultReps.toString).toInt
    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SCALED_DIR",
      if (scale == DefaultReps) "/root/repo/target/scaled_sf1"
      else s"/root/repo/target/scaled_x$scale")
    System.err.println(s"[scaleprobe] building ${scale}x inputs under $sf1 (cached if present)")
    buildScaled(spark, sf01, sf1, scale, full = true)

    val names =
      if (scale != DefaultReps) {
        val asked = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
          .getOrElse(Scale100Queries)
        val bad = asked.filterNot(Scale100Queries.contains)
        require(bad.isEmpty, s"at ${scale}x only ${Scale100Queries.mkString(",")} have " +
          s"fully scaled inputs (events/embeddings are not built); got: ${bad.mkString(",")}")
        asked
      } else sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq).getOrElse(Probed10x)
      // round-11 session wave (calibration_reliability/ece_brier,
      // welch_ttest, multiclass_prf, pr_curve_by_threshold): single
      // keyed aggregates on bin/class/score-alphabet keys — ad-hoc
      // probed once (same plan at 10x, sub-second absolute at both
      // scales, warmup-dominated), left off the record like
      // table_checksum / kappa

    def timeOne(name: String, dir: String): (Double, String, Long) = {
      // t0 wraps CONSTRUCTION + the forced noop-sink evaluation:
      // several queries do their real work eagerly while building the
      // frame (the CC loop's checkpointed rounds, edges_to_sonata_h5's
      // container write), and the sink is ForceEval — NOT count(), which
      // prunes global-aggregate faces and unique-key left joins to
      // near-empty plans (see ForceEval's scaladoc; entries measured
      // before this fix carry carried_from/note provenance)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      ForceEval.run(df)
      val dt = (System.nanoTime() - t0) / 1e9
      val n = df.count() // untimed, for the record's row column
      val sk = skeleton(df)
      spark.catalog.clearCache()
      (dt, sk, n)
    }

    val results = names.map { name =>
      val (tSmall, skSmall, nSmall) = timeOne(name, sf01)
      val (tBig, skBig, nBig) = timeOne(name, sf1)
      val samePlan = skSmall == skBig
      System.err.println(f"[scaleprobe] $name%-28s sf0.1 ${tSmall}%6.2f s ($nSmall%d rows)  " +
        f"${scale}x ${tBig}%6.2f s ($nBig%d rows)  ratio ${tBig / tSmall}%5.2f  samePlan=$samePlan")
      if (!samePlan) {
        System.err.println(s"[scaleprobe]   sf0.1 plan: $skSmall")
        System.err.println(s"[scaleprobe]   ${scale}x   plan: $skBig")
      }
      (name, tSmall, tBig, samePlan)
    }
    val qs = results.map { case (k, a, b, p) =>
      s""""$k":{"sf01_sec":$a,"x${scale}_sec":$b,"ratio":${b / a},"same_plan":$p}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe_${scale}x","unit":"sec","queries":$qs}""")
    spark.stop()
  }
}
