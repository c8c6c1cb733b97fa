package graft.ext

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting for training-data curation — the
  * operations a 100 TB pipeline runs constantly (hold-out splits,
  * per-class caps, fractional subsamples) expressed so the SAME row set
  * comes back on every run, every engine, every partitioning:
  *
  * the sampling key is `md5(key)` — a cryptographic hash both Spark and
  * DuckDB implement identically — so selection is a pure per-row
  * predicate (narrow, zero shuffle, fully pushed into the scan stage)
  * and the oracle can reproduce it bit-for-bit. `rand(seed)`-based
  * sampling is reproducible only within one engine+partitioning;
  * hash-based sampling is reproducible everywhere, which is what makes
  * dataset audits possible.
  */
object Sampling {

  /** The engine-portable sampling bucket: first 4 hex chars of md5(key)
    * as a long in [0, 65536) — the primitive under every deterministic
    * selection here and in [[Quality]]'s benchmark split.
    */
  def hashBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 4), 16, 10).cast("long")

  /** Keep ~`pct`% of rows, decided by the first 4 hex chars of
    * md5(key): uniform over 65536 buckets, exact and engine-portable.
    */
  def hashSample(df: DataFrame, key: Column, pct: Double): DataFrame = {
    require(pct > 0 && pct <= 100, s"pct must be in (0, 100], got $pct")
    val cut = math.round(65536.0 * pct / 100.0).toInt
    df.filter(hashBucket(key) < cut)
  }

  /** Deterministic train/valid/test labels from the same hash: an
    * 80/10/10 split whose assignment never changes as the corpus grows
    * (a row's label depends only on its key).
    */
  def splitLabel(key: Column): Column = {
    val bucket = hashBucket(key)
    when(bucket < 52429, "train")       // 65536 * 0.8
      .when(bucket < 58982, "valid")    // 65536 * 0.9
      .otherwise("test")
  }

  /** Deterministic WEIGHTED Bernoulli sample: P(keep) = weight/scale
    * (capped at 1), decided by the same md5 bucket — so up-weighted rows
    * (longer documents, higher-quality sources) survive proportionally
    * more often, and the decision is still a pure per-row predicate that
    * never changes across runs, engines, or corpus growth. The
    * comparison is integer cross-multiplied (`bucket·scale <
    * 65536·min(weight, scale)`) so no float threshold can flip between
    * engines.
    *
    * Caller contract: `weight` must be non-null and non-negative —
    * Spark's `least()` ignores nulls, so a null weight would silently
    * keep the row with p=1; null/negative weights are rejected up front.
    * `scale` is bounded so `bucket·scale` (bucket < 2^16) and
    * `65536·scale` cannot overflow a long and flip keep decisions.
    */
  def weightedHashSample(df: DataFrame, key: Column, weight: Column,
                         scale: Long): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    require(scale <= (Long.MaxValue >> 17),
      s"scale must be <= 2^46 so the integer cross-multiply cannot overflow, got $scale")
    val w = when(weight.isNull || weight < 0,
      raise_error(concat(lit("weightedHashSample: null/negative weight for key "),
        key.cast("string")))).otherwise(weight.cast("long"))
    df.filter(hashBucket(key) * lit(scale) <
      lit(65536L) * least(w, lit(scale)))
  }

  /** Per-class cap: keep at most `k` rows per class, chosen in md5-hash
    * order (deterministic "random" representatives) — the custom
    * partial/final TopKPerKey operator, so only ≤ k·partitions rows per
    * class reach the shuffle at any corpus size.
    */
  def perClassCap(df: DataFrame, classCol: String, key: Column, k: Int): DataFrame =
    graft.plans.TopKPerKey.topKPerKey(
      df.withColumn("_h", md5(key.cast("string"))),
      Seq(classCol), Seq(("_h", false)), k)

  /** Temperature-style per-source quota sampling (the multilingual /
    * multi-source rebalancing a pretraining mix runs): source `s` gets a
    * quota ∝ √|s| of the `total` target — up-weighting small sources
    * relative to proportional sampling — then keeps its first `quota`
    * documents in md5 order. All quota arithmetic is INTEGER (isqrt via
    * exact double sqrt + floor, integer sum, integer division), so no
    * float accumulation order can shift a quota between engines. One
    * groupBy over (doc-count-per-source) + a broadcast of the
    * source-cardinality quota table + one keyed row_number window.
    */
  def temperatureQuotaSample(docs: DataFrame, total: Long): DataFrame = {
    val sizes = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("rt", floor(sqrt(col("n_docs"))).cast("long"))
    val tot = sizes.agg(sum(col("rt")).as("s"))
    val quotas = sizes.crossJoin(tot)
      .select(col("source"),
        greatest(lit(1L), expr(s"($total * rt) div s")).as("quota"))
    val ranked = docs.select(col("source"), col("doc_id"),
      row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
        .as("rank"))
    ranked.join(broadcast(quotas), "source")
      .filter(col("rank") <= col("quota"))
      .select(col("source"), col("quota"), col("rank"), col("doc_id"))
  }

  /** EXACT-total stratified sampling by largest-remainder (Hamilton)
    * apportionment: quotas proportional to stratum size that sum to
    * EXACTLY `total` — the property proportional hash sampling can't
    * give (per-stratum rounding drifts the total by up to the stratum
    * count) and a training-mix contract usually demands.
    *
    *   base_i = ⌊T·n_i/N⌋; the T − Σbase_i leftover seats go to the
    *   strata with the largest remainders T·n_i mod N (stratum id
    *   breaking ties) — all integer, so the allocation is
    *   engine-exact. Requires T < N; then base_i < n_i strictly, so
    *   every quota (≤ base_i + 1) is satisfiable.
    *
    * Plan: one stratum-count aggregate, the seat assignment as a
    * window over STRATUM-CARDINALITY rows (constant-bounded, the
    * histogram-bin discipline), then the [[perClassCap]] shape: one
    * per-stratum md5-order row_number against the broadcast quota
    * table. Members beyond each quota never survive the filter.
    */
  def stratifiedExactSample(docs: DataFrame, stratumCol: String,
                            total: Long): DataFrame = {
    val sizes = docs.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"))
    val tot = sizes.agg(sum(col("n_docs")).as("nn"))
    val seats = sizes.crossJoin(broadcast(tot))
      .select(col(stratumCol), col("n_docs"),
        expr(s"($total * n_docs) div nn").as("base"),
        expr(s"($total * n_docs) % nn").as("rem"))
    // seat top-up: rank strata by remainder; strata-cardinality window
    val wSeat = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col(stratumCol))
    val deficit = seats.agg((lit(total) - sum(col("base"))).as("deficit"))
    val quotas = seats
      .withColumn("seat_rank", row_number().over(wSeat).cast("long"))
      .crossJoin(broadcast(deficit))
      .select(col(stratumCol),
        (col("base") + when(col("seat_rank") <= col("deficit"), 1L)
          .otherwise(0L)).as("quota"))
    val ranked = docs.select(col(stratumCol), col("doc_id"),
      row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(stratumCol))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
        .as("rank"))
    ranked.join(broadcast(quotas), stratumCol)
      .filter(col("rank") <= col("quota"))
      .select(col(stratumCol), col("quota"), col("rank"), col("doc_id"))
  }

  /** Streamable half of the dynamic-batching planner: floor-log2 token
    * buckets → (n_docs, sum_tokens, max_len) per bucket. A plain keyed
    * aggregate, so the streaming face maintains it in complete mode and
    * shares the batch oracle bit-for-bit (the drift_psi pattern).
    */
  def lengthBucketCounts(docs: DataFrame): DataFrame =
    docs
      .select(greatest(size(TextAnalysis.tokens(col("text"))).cast("long"), lit(1L))
        .as("n_tok"))
      .select(col("n_tok"),
        expr("CAST(length(bin(n_tok)) - 1 AS BIGINT)").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"),
        max(col("n_tok")).as("max_len"))

  /** Batch finisher: padding-waste ppm and batch counts per bucket for a
    * fixed token budget per batch.
    */
  def lengthBucketFinish(counts: DataFrame, batchTokens: Long = 4096L): DataFrame =
    counts.select(col("bucket"), col("n_docs"), col("sum_tokens"), col("max_len"),
      expr("(n_docs * max_len - sum_tokens) * 1000000 div (n_docs * max_len)")
        .as("pad_waste_ppm"),
      expr(s"greatest(${batchTokens}L div max_len, 1L)").as("rows_per_batch"),
      expr(s"(n_docs + greatest(${batchTokens}L div max_len, 1L) - 1) " +
        s"div greatest(${batchTokens}L div max_len, 1L)").as("n_batches"))

  /** Water-filling token-budget allocation (see the query comment at
    * `mixture_waterfill_budget`): spend `n_total div 2` tokens across
    * sources at a common water level — the FULL prefix (sorted by
    * size) keeps everything; the CAPPED suffix splits the remainder
    * evenly with the integer remainder handed one token to each of the
    * first `remainder` capped sources in (size, name) order, so
    * Σ alloc = budget EXACTLY with no floats. The rank windows run
    * over the source alphabet (k rows).
    */
  def waterfillBudget(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySource = docs
      .select(col("source"), size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("n_tokens"))
    val tot = bySource.agg(sum(col("n_tokens")).as("n_total"),
      count(lit(1)).as("k_sources"))
    val w = Window.orderBy(col("n_tokens"), col("source"))
    val ranked = bySource.crossJoin(broadcast(tot))
      .withColumn("idx", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("budget", expr("n_total div 2"))
      .withColumn("is_full",
        (col("cum") - col("n_tokens"))
          + col("n_tokens") * (col("k_sources") - col("idx") + 1) <= col("budget"))
    val fullAgg = ranked.agg(
      sum(when(col("is_full"), col("n_tokens")).otherwise(0L)).as("sum_full"),
      sum(when(col("is_full"), 1L).otherwise(0L)).as("n_full"),
      sum(when(!col("is_full"), 1L).otherwise(0L)).as("n_capped"))
    ranked.crossJoin(broadcast(fullAgg))
      .select(col("source"), col("n_tokens"),
        when(col("is_full"), col("n_tokens"))
          .otherwise(
            expr("(budget - sum_full) div greatest(n_capped, 1L)")
              + when(col("idx") - col("n_full")
                  <= expr("(budget - sum_full) % greatest(n_capped, 1L)"), 1L)
                .otherwise(0L))
          .as("alloc_tokens"),
        (!col("is_full")).as("capped"))
  }

  val queries: Map[String, Q] = Map(
    // largest-remainder language-stratified sample: exactly 200 docs
    "sample_stratified_exact" -> ((s, dir) =>
      stratifiedExactSample(Tables.documents(s, dir), "lang", 200L)),

    // KMV bottom-k per language: a MERGEABLE deterministic sample that
    // is also a distinct estimator — and, uniquely among the sketches
    // here, EXACTLY oracle-able (min-k of a set is merge-invariant and
    // the 60-bit md5 hash is engine-portable). D-hat = (k−1)·2⁶⁰ div
    // h_k; the product needs 67 bits, so it rides decimal/HUGEINT into
    // the integral divide on both engines.
    "sample_bottomk_kmv" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(graft.functions.KmvBottomKAgg
          .kmvBottomK(col("doc_id").cast("string"), 64).as("ks"))
        .select(col("lang"), size(col("ks")).cast("long").as("n_kept"),
          element_at(col("ks"), 1).as("h_min"),
          element_at(col("ks"), size(col("ks"))).as("h_k"))
        .select(col("lang"), col("n_kept"), col("h_min"), col("h_k"),
          when(col("n_kept") < 64, col("n_kept"))
            .otherwise(expr(
              "(CAST(63 AS DECIMAL(38,0)) * 1152921504606846976) div h_k"))
            .as("est_distinct"))),

    // KMV set algebra: the en↔es VOCABULARY overlap estimated from two
    // 64-hash sketches alone — K = bottom-64 of the sketch union,
    // ρ = |K ∩ A ∩ B| / 64 is the Jaccard estimator (Beyer et al.,
    // SIGMOD'07 §4) — next to the exact relational overlap as the
    // companion truth. Everything after the two token scans moves ≤64
    // longs per side; at 100 TB the sketches are the only artifact two
    // corpora need to exchange to estimate their overlap.
    "kmv_vocab_overlap" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .where(col("lang").isin("en", "es"))
        .select(col("lang"),
          explode(array_distinct(TextAnalysis.tokens(col("text")))).as("tok"))
        .distinct()
      val sk = toks.groupBy(col("lang"))
        .agg(graft.functions.KmvBottomKAgg.kmvBottomK(col("tok"), 64).as("ks"))
      val a = sk.where(col("lang") === "en").select(col("ks").as("ka"))
      val b = sk.where(col("lang") === "es").select(col("ks").as("kb"))
      val exact = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("n_langs"))
        .agg(count(lit(1)).as("n_union"),
          sum(when(col("n_langs") === 2, 1L).otherwise(0L)).as("n_common"))
      a.crossJoin(b).crossJoin(exact) // three 1-row frames
        .select(col("n_union"), col("n_common"),
          expr("n_common * 1000000L div n_union").as("jaccard_exact_x1e6"),
          expr("slice(array_sort(array_union(ka, kb)), 1, 64)").as("ku"),
          col("ka"), col("kb"))
        .select(col("n_union"), col("n_common"), col("jaccard_exact_x1e6"),
          expr("size(filter(ku, h -> array_contains(ka, h) AND array_contains(kb, h)))")
            .cast("long").as("kmv_common"),
          // divide by |K|, not k: below k distinct the union sketch is
          // the exact union and the estimator degrades to exact Jaccard
          expr("CAST(size(filter(ku, h -> array_contains(ka, h) AND array_contains(kb, h))) AS BIGINT) * 1000000L div size(ku)")
            .as("jaccard_kmv_x1e6"))
    }),

    "sample_hash_pct" -> ((s, dir) =>
      hashSample(Tables.documents(s, dir), col("doc_id"), 10.0)
        .select(col("doc_id"), col("lang"))),

    "train_valid_test_split" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), splitLabel(col("doc_id")).as("split"))),

    // cap each language at 25 docs, hash-ordered representatives
    "sample_per_class_cap" -> ((s, dir) =>
      perClassCap(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "lang", col("doc_id"), 25)
        .select(col("lang"), col("rank"), col("doc_id"))),

    // length-proportional subsample: a 400-char doc keeps with p=0.4,
    // anything ≥1000 chars always survives
    "sample_weighted" -> ((s, dir) =>
      weightedHashSample(Tables.documents(s, dir), col("doc_id"),
        col("n_chars"), 1000L)
        .select(col("doc_id"), col("n_chars"))),

    // √-proportional source rebalancing toward a 200-doc target mix
    "sample_temperature_quota" -> ((s, dir) =>
      temperatureQuotaSample(Tables.documents(s, dir), 200L)),

    // Fixed-mixture rebalancing: every source capped at an EQUAL share
    // of the corpus (the uniform-mixture downsample; the temperature
    // quota above is the √-softened variant). Per source:
    // keep_ppm = min(1e6, N·1e6 div (k·n_s)) and a row survives iff
    // its md5 bucket clears the integer threshold — deterministic,
    // growth-stable membership (adding docs never flips survivors in
    // other sources). One group-count pass + a broadcast threshold
    // join; emits the audit row per source (before/after/threshold).
    "mixture_fixed_weights" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bySource = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val tot = bySource.agg(sum(col("n_s")).as("n_total"),
        count(lit(1)).as("k_sources"))
      val thresholds = bySource.crossJoin(broadcast(tot))
        .select(col("source"), col("n_s"),
          least(lit(1000000L),
            expr("n_total * 1000000 div (k_sources * n_s)")).as("keep_ppm"))
      docs.select(col("source"), col("doc_id"),
          hashBucket(col("doc_id")).as("bucket"))
        .join(broadcast(thresholds), "source")
        .where(col("bucket") * 1000000 < col("keep_ppm") * 65536)
        .groupBy(col("source"), col("n_s"), col("keep_ppm"))
        .agg(count(lit(1)).as("n_after"))
    }),

    // Token-budget epoch planning — the data-recipe arithmetic behind
    // a fixed training budget: give every source an equal share of a
    // 10M-token budget and report how many passes (epochs, milli) over
    // that source the share costs. epochs > 1000 milli flags a source
    // the mixture would repeat (upsampling risk: memorization), the
    // readout published in public data-recipe cards. One token-count
    // scan + k-source-row arithmetic against a 1-row broadcast.
    "mixture_epochs_budget" -> ((s, dir) => {
      val budget = 10000000L
      val bySource = Tables.documents(s, dir)
        .select(col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy(col("source")).agg(sum(col("n_tok")).as("n_tokens"))
      val k = bySource.agg(count(lit(1)).as("k_sources"))
      bySource.crossJoin(broadcast(k))
        .select(col("source"), col("n_tokens"),
          expr(s"${budget}L div k_sources").as("target_tokens"),
          expr(s"(${budget}L div k_sources) * 1000 div greatest(n_tokens, 1L)")
            .as("epochs_milli"))
        .withColumn("oversampled", col("epochs_milli") > 1000L)
    }),

    // Water-filling token-budget allocation — the constrained form of
    // the equal-share mixtures above: spend a budget B (here 50% of
    // corpus tokens) across sources, capping every source at a common
    // water level so small sources keep everything and the level
    // spends exactly what remains. Classic result: sources sorted by
    // size split into a FULL prefix (n_s fits under the level) and a
    // CAPPED suffix at level = (B − Σ full) div n_capped, with the
    // integer remainder handed one token to each of the first
    // `remainder` capped sources in (size, name) order — Σ alloc = B
    // exactly, no floats anywhere. The sort/rank windows run over the
    // SOURCE ALPHABET (k rows, kind-scoped in the plan sweep); the
    // only corpus-sized work is the token-count scan.
    "mixture_waterfill_budget" -> ((s, dir) =>
      waterfillBudget(Tables.documents(s, dir))),

    // Dynamic-batching plan — the padding-waste arithmetic behind
    // length-bucketed batching: docs bucket by floor-log2 token count,
    // every sequence in a bucket pads to the bucket's max observed
    // length, and a 4096-token batch fits `4096 div max_len` rows. The
    // readout (waste ppm + batch count per bucket) is what decides the
    // bucket boundaries before a training run. One stateless projection
    // + a log2-bounded keyed aggregate.
    "batch_length_buckets" -> ((s, dir) =>
      lengthBucketFinish(lengthBucketCounts(Tables.documents(s, dir)))),

    // Distribution matching by importance resampling — make every
    // source's LENGTH distribution match the reference source's (the
    // domain-matching step that stops a web-scrape source from skewing
    // the length mix): 10 equi-width length bins, reference = the
    // largest source, per-(source, bin) keep probability
    // min(1, ref_share/src_share) as exact ppm, acceptance by the same
    // 16-bit md5 bucket rule as mixture_fixed_weights. Emits the
    // per-cell audit (n_cell, keep_ppm, n_kept). All thresholds ride a
    // bins×sources broadcast; the corpus is touched by one binning
    // projection and one filtered count.
    "length_match_resample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val st = docs.agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
        .withColumn("width", expr("(mx - mn) div 10 + 1"))
      val binned = docs.crossJoin(broadcast(st))
        .select(col("doc_id"), col("source"),
          expr("(n_chars - mn) div width").as("bin"),
          hashBucket(col("doc_id")).as("bucket"))
      val cells = binned.groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_cell"))
      val tots = cells.groupBy(col("source")).agg(sum(col("n_cell")).as("n_src"))
      val shares = cells.join(broadcast(tots), "source")
        .withColumn("share_ppm", expr("n_cell * 1000000 div n_src"))
      val target = tots.orderBy(col("n_src").desc, col("source")).limit(1)
        .select(col("source").as("_tsrc"))
      val tgt = shares.join(broadcast(target), col("source") === col("_tsrc"))
        .select(col("bin"), col("share_ppm").as("tgt_ppm"))
      val keep = shares.join(broadcast(tgt), Seq("bin"), "left")
        .select(col("source"), col("bin"), col("n_cell"),
          least(lit(1000000L),
            expr("coalesce(tgt_ppm, 0L) * 1000000 div greatest(share_ppm, 1L)"))
            .as("keep_ppm"))
      binned.join(broadcast(keep), Seq("source", "bin"))
        .where(col("bucket") * 1000000 < col("keep_ppm") * 65536)
        .groupBy(col("source"), col("bin"), col("n_cell"), col("keep_ppm"))
        .agg(count(lit(1)).as("n_kept"))
    }),

    // Deterministic corpus shuffle: the pre-training permutation as a
    // stable position in md5 order — same engine-portable hash, computed
    // by the two-phase distributed scan (no single-partition stage).
    "corpus_shuffle_order" -> ((s, dir) =>
      graft.ops.Offsets.globalPosition(
        Tables.documents(s, dir).select(col("doc_id")),
        Seq(md5(col("doc_id").cast("string")), col("doc_id")), "pos")),

    // Token-budget shard packing: exclusive weighted prefix sum of
    // per-doc token counts in shuffle order, shard = cum div budget —
    // every shard holds ~budget tokens of contiguous shuffled docs, and
    // the assignment is reproducible anywhere. The scan runs through
    // globalWeightedPrefix: one job gathers each partition's token
    // total, the driver scans them, one pass stamps the running sums —
    // no window over the corpus, no cache.
    "corpus_pack_shards" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.ops.Offsets.globalWeightedPrefix(docs,
          Seq(md5(col("doc_id").cast("string")), col("doc_id")),
          "n_tokens", "cum_tokens")
        .withColumn("shard_id", expr("cum_tokens div 2000"))
    }),

    // Length-SORTED shelf packing (longest docs first) with the same
    // per-shard fill audit as pack_fill_audit: sorting by descending
    // token count before the prefix scan concentrates the straddle
    // waste in the few long-doc shards and packs the tail nearly
    // exactly — the offline half of best-fit-decreasing that stays a
    // pure prefix scan (true BFD's bin search is inherently
    // sequential; documented trade). Same globalWeightedPrefix scan,
    // order = (n_tokens desc, doc_id).
    "pack_fill_sorted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.ops.Offsets.globalWeightedPrefix(docs,
          Seq(col("n_tokens").desc, col("doc_id")),
          "n_tokens", "cum_tokens")
        .withColumn("shard_id", expr("cum_tokens div 2000"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
        .select(col("shard_id"), col("n_docs"), col("tokens"),
          expr("tokens * 1000000 div 2000").as("fill_ppm"))
    }),

    // Shard manifest with ORDER-INSENSITIVE membership checksums — the
    // reproducibility record a dataset card publishes per shard: doc
    // count, token total, and a 48-bit-per-doc md5 id sum (insensitive
    // to intra-shard order, sensitive to any membership change). One
    // shard-keyed aggregate over the same pack assignment.
    "shard_manifest_checksum" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.ops.Offsets.globalWeightedPrefix(docs,
          Seq(md5(col("doc_id").cast("string")), col("doc_id")),
          "n_tokens", "cum_tokens")
        .withColumn("shard_id", expr("cum_tokens div 2000"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens_total"),
          sum(expr(
            "CAST(conv(substring(md5(cast(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"))
            .as("id_checksum"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "sample_hash_pct" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) < 6554""".stripMargin,
    "train_valid_test_split" ->
      """SELECT doc_id,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) < 52429 THEN 'train'
        |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) < 58982 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "sample_per_class_cap" ->
      """SELECT lang,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rank,
        |  doc_id
        |FROM documents
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 25""".stripMargin,
    "sample_weighted" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) * 1000
        |  < 65536 * LEAST(n_chars, 1000)""".stripMargin,
    "kmv_vocab_overlap" ->
      """WITH toks AS (SELECT DISTINCT lang, tok FROM (
        |    SELECT lang, unnest(list_distinct(list_filter(
        |      string_split_regex(text, '\s+'), t -> t != ''))) AS tok
        |    FROM documents WHERE lang IN ('en', 'es')) x),
        |hh AS (SELECT lang, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
        |       FROM toks),
        |ska AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
        |         FROM (SELECT DISTINCT h FROM hh WHERE lang = 'en') xa) t WHERE rn <= 64),
        |skb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
        |         FROM (SELECT DISTINCT h FROM hh WHERE lang = 'es') xb) t WHERE rn <= 64),
        |ku AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
        |        FROM (SELECT h FROM ska UNION SELECT h FROM skb) u) t WHERE rn <= 64),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_union,
        |         CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common
        |       FROM (SELECT tok, count(DISTINCT lang) AS n FROM toks GROUP BY tok) g),
        |kc AS (SELECT CAST(count(*) AS BIGINT) AS kmv_common FROM ku
        |       WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb))
        |SELECT n_union, n_common,
        |  CAST((n_common * 1000000) // n_union AS BIGINT) AS jaccard_exact_x1e6,
        |  kmv_common,
        |  CAST((kmv_common * 1000000) // (SELECT count(*) FROM ku) AS BIGINT) AS jaccard_kmv_x1e6
        |FROM ex, kc""".stripMargin,

    "sample_bottomk_kmv" ->
      """WITH h AS (SELECT DISTINCT lang,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |r AS (SELECT lang, h,
        |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM h),
        |k AS (SELECT lang, count(*) AS n_kept, min(h) AS h_min, max(h) AS h_k
        |      FROM r WHERE rn <= 64 GROUP BY lang)
        |SELECT lang, CAST(n_kept AS BIGINT) AS n_kept, h_min, h_k,
        |  CAST(CASE WHEN n_kept < 64 THEN n_kept
        |       ELSE (CAST(63 AS HUGEINT) * 1152921504606846976) // h_k
        |  END AS BIGINT) AS est_distinct
        |FROM k""".stripMargin,

    "sample_stratified_exact" ->
      """WITH sz AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nn FROM sz),
        |seats AS (SELECT lang, n_docs,
        |    (200 * n_docs) // nn AS base, (200 * n_docs) % nn AS rem
        |  FROM sz, tot),
        |def AS (SELECT 200 - CAST(sum(base) AS BIGINT) AS deficit FROM seats),
        |q AS (SELECT lang,
        |    CAST(base + CASE WHEN row_number()
        |        OVER (ORDER BY rem DESC, lang) <= (SELECT deficit FROM def)
        |      THEN 1 ELSE 0 END AS BIGINT) AS quota
        |  FROM seats),
        |r AS (SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rank
        |  FROM documents)
        |SELECT r.lang, q.quota, r.rank, r.doc_id
        |FROM r JOIN q ON r.lang = q.lang
        |WHERE r.rank <= q.quota""".stripMargin,
    "length_match_resample" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |st AS (SELECT min(n_chars) AS mn,
        |    (max(n_chars) - min(n_chars)) // 10 + 1 AS width FROM d),
        |b AS (
        |  SELECT doc_id, source, (n_chars - mn) // width AS bin,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS BIGINT) AS bucket
        |  FROM d, st),
        |cells AS (SELECT source, bin, count(*) AS n_cell FROM b GROUP BY 1, 2),
        |tots AS (SELECT source, CAST(sum(n_cell) AS BIGINT) AS n_src
        |         FROM cells GROUP BY source),
        |shares AS (
        |  SELECT c.source, c.bin, c.n_cell,
        |    c.n_cell * 1000000 // t.n_src AS share_ppm
        |  FROM cells c JOIN tots t ON t.source = c.source),
        |tgt AS (
        |  SELECT s.bin, s.share_ppm AS tgt_ppm FROM shares s
        |  WHERE s.source = (SELECT source FROM tots
        |                    ORDER BY n_src DESC, source LIMIT 1)),
        |keep AS (
        |  SELECT s.source, s.bin, s.n_cell,
        |    least(1000000, coalesce(t.tgt_ppm, 0) * 1000000
        |      // greatest(s.share_ppm, 1)) AS keep_ppm
        |  FROM shares s LEFT JOIN tgt t ON t.bin = s.bin)
        |SELECT b.source, b.bin, k.n_cell,
        |  CAST(k.keep_ppm AS BIGINT) AS keep_ppm, count(*) AS n_kept
        |FROM b JOIN keep k ON k.source = b.source AND k.bin = b.bin
        |WHERE b.bucket * 1000000 < k.keep_ppm * 65536
        |GROUP BY b.source, b.bin, k.n_cell, k.keep_ppm""".stripMargin,

    "mixture_fixed_weights" ->
      """WITH by_source AS (
        |  SELECT source, count(*) AS n_s FROM documents GROUP BY source),
        |tot AS (
        |  SELECT CAST(sum(n_s) AS BIGINT) AS n_total,
        |    count(*) AS k_sources
        |  FROM by_source),
        |th AS (
        |  SELECT source, n_s,
        |    least(1000000, n_total * 1000000 // (k_sources * n_s)) AS keep_ppm
        |  FROM by_source, tot),
        |kept AS (
        |  SELECT d.source, th.n_s, th.keep_ppm
        |  FROM documents d JOIN th ON th.source = d.source
        |  WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
        |      AS BIGINT) * 1000000 < th.keep_ppm * 65536)
        |SELECT source, n_s, CAST(keep_ppm AS BIGINT) AS keep_ppm,
        |  count(*) AS n_after
        |FROM kept GROUP BY source, n_s, keep_ppm""".stripMargin,

    "mixture_waterfill_budget" ->
      """WITH bs AS (
        |  SELECT source, CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
        |    x -> x != ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total,
        |    CAST(count(*) AS BIGINT) AS k_sources FROM bs),
        |ranked AS (
        |  SELECT bs.source, bs.n_tokens, t.k_sources,
        |    t.n_total // 2 AS budget,
        |    CAST(row_number() OVER (ORDER BY bs.n_tokens, bs.source) AS BIGINT) AS idx,
        |    CAST(sum(bs.n_tokens) OVER (ORDER BY bs.n_tokens, bs.source
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM bs, tot t),
        |flags AS (
        |  SELECT *, (cum - n_tokens) + n_tokens * (k_sources - idx + 1) <= budget AS is_full
        |  FROM ranked),
        |fa AS (
        |  SELECT CAST(sum(CASE WHEN is_full THEN n_tokens ELSE 0 END) AS BIGINT) AS sum_full,
        |    CAST(sum(CASE WHEN is_full THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
        |    CAST(sum(CASE WHEN is_full THEN 0 ELSE 1 END) AS BIGINT) AS n_capped
        |  FROM flags)
        |SELECT f.source, f.n_tokens,
        |  CAST(CASE WHEN f.is_full THEN f.n_tokens
        |    ELSE (f.budget - fa.sum_full) // greatest(fa.n_capped, 1)
        |       + CASE WHEN f.idx - fa.n_full
        |                <= (f.budget - fa.sum_full) % greatest(fa.n_capped, 1)
        |              THEN 1 ELSE 0 END
        |    END AS BIGINT) AS alloc_tokens,
        |  NOT f.is_full AS capped
        |FROM flags f, fa""".stripMargin,
    "mixture_epochs_budget" ->
      """WITH by_source AS (
        |  SELECT source,
        |    CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x != ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |k AS (SELECT count(*) AS k_sources FROM by_source)
        |SELECT source, n_tokens,
        |  10000000 // k_sources AS target_tokens,
        |  (10000000 // k_sources) * 1000 // greatest(n_tokens, 1)
        |    AS epochs_milli,
        |  (10000000 // k_sources) * 1000 // greatest(n_tokens, 1) > 1000
        |    AS oversampled
        |FROM by_source CROSS JOIN k""".stripMargin,

    "batch_length_buckets" ->
      """WITH t AS (
        |  SELECT greatest(CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    x -> x != '')) AS BIGINT), 1) AS n_tok
        |  FROM documents),
        |b AS (
        |  SELECT CAST(length(bin(n_tok)) - 1 AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |    CAST(max(n_tok) AS BIGINT) AS max_len
        |  FROM t GROUP BY 1)
        |SELECT bucket, n_docs, sum_tokens, max_len,
        |  (n_docs * max_len - sum_tokens) * 1000000 // (n_docs * max_len)
        |    AS pad_waste_ppm,
        |  greatest(4096 // max_len, 1) AS rows_per_batch,
        |  (n_docs + greatest(4096 // max_len, 1) - 1)
        |    // greatest(4096 // max_len, 1) AS n_batches
        |FROM b""".stripMargin,

    "sample_temperature_quota" ->
      """WITH sz AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(floor(sqrt(count(*))) AS BIGINT) AS rt
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(rt) AS BIGINT) AS s FROM sz),
        |q AS (SELECT source, GREATEST(1, (200 * rt) // s) AS quota FROM sz, tot),
        |r AS (
        |  SELECT source, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rank
        |  FROM documents)
        |SELECT r.source, q.quota, r.rank, r.doc_id
        |FROM r JOIN q ON r.source = q.source
        |WHERE r.rank <= q.quota""".stripMargin,
    "corpus_shuffle_order" ->
      """SELECT doc_id,
        |  ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
        |FROM documents""".stripMargin,
    "pack_fill_sorted" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT cum_tokens // 2000 AS shard_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
        |  CAST(sum(n_tokens) AS BIGINT) * 1000000 // 2000 AS fill_ppm
        |FROM c GROUP BY 1""".stripMargin,

    // cum computed once in a subquery: two textually identical windows
    // would re-evaluate and invite the threaded-window tie hazard
    "corpus_pack_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, n_tokens, cum_tokens, cum_tokens // 2000 AS shard_id FROM c""".stripMargin,

    "shard_manifest_checksum" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT cum_tokens // 2000 AS shard_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
        |  CAST(sum(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
        |    AS BIGINT)) AS BIGINT) AS id_checksum
        |FROM c GROUP BY 1""".stripMargin
  )
}
