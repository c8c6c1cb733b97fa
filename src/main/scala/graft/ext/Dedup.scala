package graft.ext

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data curation over `documents`
  * (+ `embeddings` for semantic near-dups):
  *
  *  - exact:        content-hash groupBy — one shuffle on the hash, never
  *                  on the raw text;
  *  - n-gram Jaccard: inverted shingle index self-join (exact, but
  *                  candidate-bounded) — the verification tier;
  *  - MinHash+LSH:  shingle→minhash→band→bucket join — the 100 TB tier:
  *                  candidate generation cost is bounded by band-bucket
  *                  collisions, not n²;
  *  - SimHash:      64-bit fingerprint + hamming-band bucketing;
  *  - embedding cosine: quantized-integer dot product over unit vectors.
  *
  * MinHash/SimHash use Spark's `xxhash64` — not reproducible in DuckDB, so
  * those two are rows-only checked here and property-tested in ScalaTest
  * (planted near-duplicates must collide).
  */
object Dedup {

  /** Distinct word-3-gram shingles per doc (empty below 3 tokens) — the
    * codegen'd `WordShingles` expression; shingle materialization through
    * the interpreted HOF chain (`array_distinct(transform(sequence…))`)
    * was the dominant cost of every shingle-based dedup. The DuckDB
    * oracle keeps the equivalent `list_distinct(list_transform(…))`
    * formulation.
    */
  def shingles(text: Column): Column =
    graft.functions.WordShingles.wordShingles(text, 3)

  /** (doc_id, shingle) inverted index. */
  private def shingleIndex(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(shingles(col("text"))).as("shingle"))

  /** Exact Jaccard over candidate pairs that share ≥1 shingle.
    * |A∩B| from the inverted-index self-join, |A∪B| = |A|+|B|−|A∩B|.
    *
    * The index is persisted before reuse — it feeds the hot-shingle
    * guard, both self-join sides, and the per-doc sizes. The self-join
    * keys on `xxhash64(shingle)` (8-byte comparisons in the shuffle/
    * join) with the string equality kept alongside, so hash collisions
    * cannot alter the result.
    *
    * Hot-shingle guard: a shingle present in m documents contributes
    * m·(m−1)/2 candidate rows — one boilerplate shingle shared by 10^6
    * docs of a 100 TB corpus is a 10^12-row join ON ITS OWN. Shingles
    * with document frequency > `dfCap` carry no near-dup signal (they
    * are corpus-wide boilerplate, not copied content) and are dropped
    * from the index BEFORE the self-join — sizes are computed on the
    * filtered index so the Jaccard stays consistent, and the oracle
    * applies the identical predicate. The candidate-join cost is thus
    * bounded by dfCap²·|hot shingles| instead of quadratic in the
    * worst document frequency.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double, dfCap: Int = 1000): DataFrame = {
    val (joined, _, _) = pairIntersections(docs, dfCap)
    joined
      .withColumn("jaccard", col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"), col("n_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Shared candidate machinery for [[ngramJaccardPairs]] and
    * [[containmentPairs]]: the df-capped inverted-index self-join with
    * per-pair intersection counts and both sizes attached. Returns
    * (joined pairs, inter, sizes).
    */
  private def pairIntersections(docs: DataFrame, dfCap: Int):
      (DataFrame, DataFrame, DataFrame) = {
    val raw = shingleIndex(docs)
      .withColumn("h", xxhash64(col("shingle")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // (h, shingle) grouping keeps the guard exact under hash collisions;
    // the hot set is tiny by construction → broadcast anti join
    val hot = raw.groupBy(col("h"), col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("h"), col("shingle"))
    val idx = raw.join(broadcast(hot), Seq("h", "shingle"), "left_anti")
    val sizes = idx.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val inter = idx.as("a").join(idx.as("b"),
        col("a.h") === col("b.h") && col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val joined = inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "n_b"), "doc_b")
    (joined, inter, sizes)
  }

  /** ASYMMETRIC near-dup: containment of the smaller shingle set,
    * `n_common / min(n_a, n_b)` — the measure that catches SUBSET
    * duplication (a document quoted whole inside a larger one, a page
    * embedding a boilerplate article) which symmetric Jaccard dilutes
    * toward zero as the size ratio grows: a 100-shingle doc fully
    * contained in a 10 000-shingle doc has containment 1.0 but Jaccard
    * 0.01. Same df-capped inverted-index plan as
    * [[ngramJaccardPairs]] — one extra codegen'd `least()` per
    * surviving pair, no new shuffle.
    */
  def containmentPairs(docs: DataFrame, threshold: Double, dfCap: Int = 1000): DataFrame = {
    val (joined, _, _) = pairIntersections(docs, dfCap)
    joined
      .withColumn("containment", col("n_common") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"), col("n_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** Threshold Jaccard similarity join by PREFIX FILTERING (the
    * AllPairs/PPJoin principle, Bayardo et al. WWW'07; Xiao et al.
    * TODS'11) over per-document 3-gram SHINGLE sets — the third exact
    * near-dup tier beside the df-capped inverted index
    * ([[ngramJaccardPairs]], the SAME measure) and MinHash banding:
    * instead of dropping hot shingles (which changes the measure) or
    * accepting probabilistic recall, it is EXACT at any df, because
    * candidate generation only touches each document's PREFIX — its
    * rarest |d| − ceil(τ·|d|) + 1 shingles in global (df, shingle)
    * order.
    *
    * Shingles, not raw token sets, deliberately: on templated corpora
    * two docs built from one template have near-IDENTICAL token SETS
    * (same vocabulary, different order), so token-set similarity is
    * degenerate — measured here, token-set prefixes produced 6.9M
    * candidates on the sf0.1 corpus where shingle prefixes produce
    * 47k for the same τ. Word order is signal; shingles keep it.
    *
    * Completeness: J(A,B) ≥ τ ⟹ |A∩B| ≥ ceil(τ|A|) (and ≥ ceil(τ|B|)).
    * If the two prefixes (under any shared total order) were disjoint,
    * then — taking wlog the side whose last prefix token is smaller —
    * every common token would exceed the OTHER side's prefix boundary
    * and so also its own, forcing A∩B entirely into one suffix of size
    * ceil(τ|·|) − 1 < |A∩B|: contradiction. So every qualifying pair
    * shares a prefix token and survives the candidate join. The
    * threshold is applied integer-exactly
    * (100·inter ≥ p·(|A|+|B|−inter)).
    *
    * 100 TB shape: the candidate self-join carries only prefix
    * shingles — at τ=0.9 that is ~10% of the index, and by construction
    * the RAREST shingles, so bucket sizes are small without any df cap;
    * corpus-wide boilerplate shingles never reach the join (they rank
    * last in every document's order). Verification re-fetches the two
    * shingle arrays by doc_id equi-joins against the persisted base
    * (the same payload-after-dedup shape as minhashLshPairs) and
    * intersects doc-bounded arrays per candidate — never a
    * shingle-level pair explosion.
    */
  def prefixJaccardPairs(docs: DataFrame, thresholdPct: Int): DataFrame =
    prefixJaccardPairsStamped(docs, thresholdPct)._1

  /** [[prefixJaccardPairs]] plus the thunk releasing the persisted
    * shingle index (plain form is for harnesses that `clearCache()` per
    * query).
    */
  def prefixJaccardPairsStamped(docs: DataFrame,
                                thresholdPct: Int): (DataFrame, () => Unit) = {
    require(thresholdPct > 0 && thresholdPct <= 100,
      s"thresholdPct must be in (0, 100], got $thresholdPct")
    val p = thresholdPct
    val toks = docs
      .select(col("doc_id"), explode(shingles(col("text"))).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    val allByDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    // prefix = the first n − ceil(p·n/100) + 1 tokens in (df, tok) order;
    // one shuffle on tok (df join), one on doc_id (both windows share it)
    val prefix = toks.join(dfreq, "tok")
      .withColumn("pos", row_number().over(byDoc))
      .withColumn("n", count(lit(1)).over(allByDoc))
      .where(col("pos") <= col("n") - expr(s"(($p * n) + 99) div 100") + 1)
      .select(col("doc_id"), col("tok"), xxhash64(col("tok")).as("h"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.tok") === col("b.tok") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val arrays = toks.groupBy(col("doc_id"))
      .agg(collect_list(col("tok")).as("toks"), count(lit(1)).as("n"))
    val verified = cand
      .join(arrays.select(col("doc_id").as("doc_a"), col("toks").as("ta"), col("n").as("n_a")), "doc_a")
      .join(arrays.select(col("doc_id").as("doc_b"), col("toks").as("tb"), col("n").as("n_b")), "doc_b")
      .withColumn("n_common", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .where(lit(100L) * col("n_common") >= lit(p.toLong) * (col("n_a") + col("n_b") - col("n_common")))
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"), col("n_b"),
        round(col("n_common") / (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
    (verified, () => { toks.unpersist(); () })
  }

  /** Sorted-neighborhood dedup (Hernández & Stolfo, SIGMOD'95) — the
    * blocking-window tier: sort the corpus ONCE by a cheap blocking key
    * (here the first `keyLen` chars of the whitespace-stripped
    * lowercased text), then compare each document only against the
    * `window − 1` documents that FOLLOW it in that order, verifying
    * candidates with the exact token-Jaccard threshold. Linear
    * candidate count (n·(w−1) pairs), the classic cheap screen when
    * near-dups share prefixes — complementary to prefix-filter (exact,
    * any τ) and MinHash (probabilistic, order-free).
    *
    * 100 TB shape: the sort is ONE range shuffle via
    * [[graft.ops.Offsets.globalPosition]] (gather → scan → scatter, no
    * single-partition stage); the neighbour join EXPLODES each row into
    * `window − 1` (pos + δ) probes and equi-joins on position — a plain
    * hash join, never an order-dependent window over the full corpus —
    * and verification re-fetches token arrays by doc_id equi-joins
    * against the persisted base (the minhashLshPairs shape).
    */
  def sortedNeighborhoodPairs(docs: DataFrame, window: Int,
                              thresholdPct: Int, keyLen: Int = 12): DataFrame =
    sortedNeighborhoodPairsStamped(docs, window, thresholdPct, keyLen)._1

  /** [[sortedNeighborhoodPairs]] plus the thunk releasing the persisted
    * token index.
    */
  def sortedNeighborhoodPairsStamped(docs: DataFrame, window: Int,
                                     thresholdPct: Int,
                                     keyLen: Int = 12): (DataFrame, () => Unit) = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(thresholdPct > 0 && thresholdPct <= 100,
      s"thresholdPct must be in (0, 100], got $thresholdPct")
    val p = thresholdPct
    val keyed = docs.select(col("doc_id"),
      substring(regexp_replace(lower(col("text")), "\\s+", ""), 1, keyLen).as("bk"))
    val pos = graft.ops.Offsets.globalPosition(keyed, Seq(col("bk"), col("doc_id")))
    val probes = pos.select(col("doc_id").as("doc_a"),
        explode(sequence(col("pos") + 1, col("pos") + (window - 1))).as("pos"))
    val cand = probes.join(pos.select(col("doc_id").as("doc_b"), col("pos")), "pos")
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
    val toks = docs
      .select(col("doc_id"), array_distinct(TextAnalysis.tokens(col("text"))).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verified = cand
      .join(toks.select(col("doc_id").as("doc_a"), col("toks").as("ta"), col("n").as("n_a")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("toks").as("tb"), col("n").as("n_b")), "doc_b")
      .withColumn("n_common", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .where(lit(100L) * col("n_common") >= lit(p.toLong) * (col("n_a") + col("n_b") - col("n_common")))
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"), col("n_b"))
    (verified, () => { toks.unpersist(); () })
  }

  /** Incremental near-dup: the production shape where a NEW BATCH of
    * documents is deduplicated AGAINST the existing corpus without ever
    * self-joining the corpus. `batchSide` partitions `docs` into batch
    * (true) and corpus (false); the output is every (batch, corpus) pair
    * with shingle-Jaccard ≥ `threshold`.
    *
    * Scale shape: the inverted corpus index is built once (at 100 TB it
    * would be the PERSISTED artifact of the previous run — here it is
    * derived inline so the oracle can see the same definition); the
    * df-cap is computed from CORPUS frequencies (boilerplate is a
    * corpus property, and capping by the batch would let a spammy batch
    * mask real matches) and dropped from both sides so the Jaccard
    * stays consistent; the candidate join is batch-index ⋈ corpus-index
    * on the 8-byte shingle hash — cost bounded by shared-shingle
    * collisions and LINEAR in the batch, never corpus², with AQE free
    * to broadcast the batch side when it is small.
    */
  def incrementalJaccardPairs(docs: DataFrame, batchSide: Column,
                              threshold: Double, dfCap: Int = 1000): DataFrame =
    incrementalJaccardPairsStamped(docs, batchSide, threshold, dfCap)._1

  /** [[incrementalJaccardPairs]] plus the thunk releasing the persisted
    * inverted index (same contract as [[embeddingCosineLshPairsStamped]];
    * the plain form is for harnesses that `clearCache()` per query).
    */
  def incrementalJaccardPairsStamped(docs: DataFrame, batchSide: Column,
                              threshold: Double, dfCap: Int = 1000): (DataFrame, () => Unit) = {
    val idx = docs.select(col("doc_id"), batchSide.as("is_batch"),
        explode(shingles(col("text"))).as("shingle"))
      .withColumn("h", xxhash64(col("shingle")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusIdx = idx.filter(!col("is_batch"))
    val hot = corpusIdx.groupBy(col("h"), col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("h"), col("shingle"))
    val cIdx = corpusIdx.join(broadcast(hot), Seq("h", "shingle"), "left_anti")
    val bIdx = idx.filter(col("is_batch"))
      .join(broadcast(hot), Seq("h", "shingle"), "left_anti")
    val sizesC = cIdx.groupBy(col("doc_id")).agg(count(lit(1)).as("n_c"))
    val sizesB = bIdx.groupBy(col("doc_id")).agg(count(lit(1)).as("n_b"))
    val inter = bIdx.as("b").join(cIdx.as("c"),
        col("b.h") === col("c.h") && col("b.shingle") === col("c.shingle"))
      .groupBy(col("b.doc_id").as("batch_doc"), col("c.doc_id").as("corpus_doc"))
      .agg(count(lit(1)).as("n_common"))
    val result = inter
      .join(sizesB.withColumnRenamed("doc_id", "batch_doc"), "batch_doc")
      .join(sizesC.withColumnRenamed("doc_id", "corpus_doc"), "corpus_doc")
      .withColumn("jaccard", col("n_common") / (col("n_b") + col("n_c") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_doc"), col("corpus_doc"), col("n_common"),
        col("n_b"), col("n_c"), round(col("jaccard"), 6).as("jaccard"))
    (result, () => { idx.unpersist(); () })
  }

  /** MinHash signatures: k universal-hash permutations of xxhash64 shingle
    * hashes, `h_i(s) = (a_i * h(s) + b_i) mod p`, min per permutation.
    *
    * Formulated as explode → k codegen'd min-aggregates → array, NOT as
    * nested higher-order functions: the per-permutation affine transform
    * and the mins all run inside WholeStageCodegen, and the groupBy is a
    * map-side-combining hash aggregate on `doc_id`. Signature size is
    * k·8 bytes per doc regardless of document length.
    */
  def minhashSignatures(docs: DataFrame, k: Int): DataFrame = {
    val p = 2147483647L // 2^31-1, Mersenne
    // NULL shingles (docs under 3 tokens) must hash to NULL — xxhash64(NULL)
    // returns the seed, which would give every shingle-less doc an identical
    // signature and report unrelated tiny docs as perfect duplicates.
    val exploded = docs
      .select(col("doc_id"), explode_outer(shingles(col("text"))).as("shingle"))
      .withColumn("h", when(col("shingle").isNotNull, pmod(xxhash64(col("shingle")), lit(p))))
    val mins = (0 until k).map { i =>
      val a = 2L * i + 1; val b = 31L * i + 7
      coalesce(min(pmod(col("h") * a + b, lit(p))), lit(p)).as(s"_m$i")
    } :+ count(col("shingle")).as("n_shingles")
    exploded.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), col("n_shingles"),
        array((0 until k).map(i => col(s"_m$i")): _*).as("signature"))
  }

  /** LSH over minhash signatures: split k into bands of `rows`, bucket on
    * (band, band-slice hash), emit candidate pairs sharing a bucket, then
    * estimate similarity as matching-minhash fraction. The shuffle key is
    * the band bucket — collision-bounded, never n².
    *
    * The candidate path is fully NARROW, mirroring
    * [[embeddingCosineLshPairsStamped]]: only (doc_id, band, bucket)
    * rows enter the band explode and the bucket-keyed candidate join,
    * and the pair dedup shuffles 16-byte (doc_a, doc_b) keys only — a
    * pair sharing b bands no longer ships b redundant copies of two
    * k·8-byte signatures through the dedup exchange. The signatures are
    * fetched AFTER dedup by two doc_id equi-joins against the persisted
    * signature base, so each surviving pair carries the wide payload
    * across a shuffle exactly twice, independent of `bands`.
    */
  def minhashLshPairs(docs: DataFrame, k: Int = 32, rows: Int = 4,
                      estThreshold: Double = 0.5): DataFrame =
    minhashLshPairsStamped(docs, k, rows, estThreshold)._1

  /** [[minhashLshPairs]] plus the thunk releasing the persisted
    * signature base — library callers that keep the session alive
    * should invoke it once the result is consumed (the plain overload
    * leaves the cache to `spark.catalog.clearCache()`, the bench's
    * between-queries hygiene).
    */
  def minhashLshPairsStamped(docs: DataFrame, k: Int = 32, rows: Int = 4,
                             estThreshold: Double = 0.5): (DataFrame, () => Unit) = {
    require(k % rows == 0, s"signature size $k must divide into bands of $rows")
    // shingle-less docs carry no similarity evidence — exclude them from
    // candidate generation instead of letting their sentinel signatures
    // collide with each other. Persisted: both candidate-join sides and
    // both payload fetches read it, and the signature aggregation is the
    // expensive part.
    val sigs = minhashSignatures(docs, k).filter(col("n_shingles") > 0)
      .select(col("doc_id"), col("signature"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBands = k / rows
    // (doc_id, band, bucket) only — recomputing the band-slice hashes
    // from cache per join side is n·bands cheap hashes, far cheaper than
    // shuffling `bands` copies of every signature
    val bands = sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(nBands - 1)),
        b => xxhash64(concat_ws("_", b.cast("string"),
          slice(col("signature"), b * lit(rows) + 1, lit(rows)).cast("array<string>")))))
        .as(Seq("band", "bucket")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val result = cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("signature").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("signature").as("sig_b")), "doc_b")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          / lit(k.toDouble))
      .filter(col("est_jaccard") >= estThreshold)
      .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
    (result, () => { sigs.unpersist(); () })
  }

  /** Incremental banded-minhash: LSH candidate pairs between a NEW
    * BATCH and the standing corpus — [[minhashLshPairs]]'s
    * continuous-ingestion face, pairing with
    * [[incrementalJaccardPairs]]'s batch/corpus split. At 100 TB the
    * corpus band table (doc_id, band, bucket — nBands longs per doc)
    * is the PERSISTED artifact of the previous run; each arriving
    * batch computes its own bands and equi-joins on (band, bucket) —
    * LINEAR in the batch, never corpus², with AQE free to broadcast
    * the batch side. Candidates dedup as bare id pairs and re-fetch
    * signatures by two equi-joins, the same narrow-exchange discipline
    * as the self-join form.
    */
  def minhashIncrementalPairs(docs: DataFrame, batchSide: Column, k: Int = 32,
                              rows: Int = 4, estThreshold: Double = 0.5): DataFrame =
    minhashIncrementalPairsStamped(docs, batchSide, k, rows, estThreshold)._1

  /** [[minhashIncrementalPairs]] plus the unpersist thunk. */
  def minhashIncrementalPairsStamped(docs: DataFrame, batchSide: Column,
                                     k: Int = 32, rows: Int = 4,
                                     estThreshold: Double = 0.5): (DataFrame, () => Unit) = {
    require(k % rows == 0, s"signature size $k must divide into bands of $rows")
    val flags = docs.select(col("doc_id"), batchSide.as("is_batch"))
    val sigs = minhashSignatures(docs, k).filter(col("n_shingles") > 0)
      .join(flags, "doc_id")
      .select(col("doc_id"), col("signature"), col("is_batch"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBands = k / rows
    val bands = sigs.select(col("doc_id"), col("is_batch"),
      posexplode(transform(sequence(lit(0), lit(nBands - 1)),
        b => xxhash64(concat_ws("_", b.cast("string"),
          slice(col("signature"), b * lit(rows) + 1, lit(rows)).cast("array<string>")))))
        .as(Seq("band", "bucket")))
    val cand = bands.filter(col("is_batch")).as("b")
      .join(bands.filter(!col("is_batch")).as("c"),
        col("b.band") === col("c.band") && col("b.bucket") === col("c.bucket"))
      .select(col("b.doc_id").as("batch_doc"), col("c.doc_id").as("corpus_doc"))
      .dropDuplicates("batch_doc", "corpus_doc")
    val result = cand
      .join(sigs.select(col("doc_id").as("batch_doc"), col("signature").as("sig_b")), "batch_doc")
      .join(sigs.select(col("doc_id").as("corpus_doc"), col("signature").as("sig_c")), "corpus_doc")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_b"), col("sig_c"), (x, y) => x === y), b => b))
          / lit(k.toDouble))
      .filter(col("est_jaccard") >= estThreshold)
      .select(col("batch_doc"), col("corpus_doc"), round(col("est_jaccard"), 6).as("est_jaccard"))
    (result, () => { sigs.unpersist(); () })
  }

  /** 64-bit SimHash over token xxhash64s: per bit, +1/−1 vote by hash bit,
    * sign of the vote sum sets the fingerprint bit. Codegen'd
    * `SimHash64` expression — the HOF formulation ran 64 interpreted
    * `aggregate` lambdas per row. NULL text coalesces to the empty
    * string first: a null document carries the same (absent) token
    * evidence as an empty one, so both fingerprint to 0L — preserving
    * the pre-codegen `when/otherwise` semantics instead of
    * null-propagating.
    */
  def simhash(text: Column): Column =
    graft.functions.SimHash64.simhash64(coalesce(text, lit("")))

  /** SimHash near-dup PAIRS: fingerprints banded into 4×16-bit keys,
    * candidates = pairs sharing a band key (by pigeonhole, hamming ≤ 3
    * over 64 bits guarantees at least one of 4 bands is EQUAL — recall
    * is exact, not probabilistic), verified by
    * `bit_count(xor) <= maxHamming`. The shuffle key is the band
    * bucket — collision-bounded like the MinHash banding, never n².
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashPairsStamped(docs, maxHamming)._1

  /** [[simhashPairs]] plus the thunk releasing the persisted
    * fingerprint base (same caller contract as
    * [[minhashLshPairsStamped]]).
    */
  def simhashPairsStamped(docs: DataFrame, maxHamming: Int = 3): (DataFrame, () => Unit) = {
    require(maxHamming <= 3, s"4 bands of 16 bits guarantee recall only for hamming <= 3, got $maxHamming")
    val fp = docs.select(col("doc_id"), simhash(col("text")).as("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = fp.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "band_key")))
    val result = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
    (result, () => { fp.unpersist(); () })
  }

  /** Exact cosine-threshold pairs via a blocked grid self-join — the
    * LOW-threshold regime of [[embeddingCosinePairs]].
    *
    * Vectors are hashed into `blocks` groups; each vector is replicated
    * to the `blocks` grid cells `(min(g,k), max(g,k))` its group
    * participates in, and the self-join is an EQUI-join on the cell id.
    * A pair whose groups are (g_u, g_v) is evaluated only in cell
    * `(min(g_u,g_v), max(g_u,g_v))` — the ownership predicate in the
    * join condition — so every unordered pair costs exactly ONE
    * codegen'd dot product and no dedup shuffle exists. Work per cell
    * is `(2n/blocks)²/2` dots: evenly spread by construction (groups
    * are hash-assigned), no driver participation, no
    * BroadcastNestedLoop/Cartesian node.
    *
    * This is Θ(n²/2) dots — deliberately. At cos-threshold 0.4 over
    * 64-dim unit vectors the qualifying set is the TAIL OF THE
    * BACKGROUND DISTRIBUTION (measured on the test corpus: every
    * qualifying pair lies in cos [0.40, 0.61], none above), and sign-LSH
    * at that contrast (p_band = 0.25 vs 0.125 for a random pair, ρ ≈
    * 0.67) generates ~all pairs as candidates at ANY (rows, bands) with
    * near-1 recall — strictly more work than evaluating the pairs once
    * each. Brute force, blocked and evenly sharded, IS the optimal
    * exact plan in this regime; the LSH path wins only at high
    * thresholds, which is what [[embeddingCosinePairs]] routes on.
    */
  def embeddingCosineBlockedPairs(vectors: DataFrame, threshold: Double,
                                  blocks: Int = 16): DataFrame = {
    import graft.functions.QuantizedDot.quantizedDot
    val base = vectors
      .select(col("vec_id"), graft.functions.QuantizedDot.quantize(col("embedding")).as("qv"),
        pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int").as("g"))
    // triangle replication: a group-g vector enters cell (i,j), i<=j, as
    // the LEFT operand when i = g (cells (g, j>=g)) and as the RIGHT
    // operand when j = g (cells (i<=g, g)). A cross-group pair then
    // meets in exactly one cell with forced roles — no ownership filter
    // and no dedup; only diagonal cells (g,g) see both orderings, and
    // the vec_id tie-break keeps one.
    val lhs = base.select(col("vec_id"), col("qv"), col("g").as("ci"),
      explode(sequence(col("g"), lit(blocks - 1))).as("cj"))
    val rhs = base.select(col("vec_id"), col("qv"),
      explode(sequence(lit(0), col("g"))).as("ci"), col("g").as("cj"))
    lhs.as("a").join(rhs.as("b"),
        col("a.ci") === col("b.ci") && col("a.cj") === col("b.cj") &&
          (col("a.ci") =!= col("a.cj") || col("a.vec_id") < col("b.vec_id")))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"),
        quantizedDot(col("a.qv"), col("b.qv")).as("dot_q"))
      .filter(col("dot_q") >= math.round(threshold * 1e6))
  }

  /** Cosine-threshold near-dup pairs, routed by regime: banded sign-LSH
    * candidate generation when the threshold is high enough for LSH
    * selectivity to pay for itself, the blocked exact grid join below
    * the crossover. Sign-LSH's per-band collision probability is
    * `(1 − θ/π)^rows` — at cos 0.7 a 6-plane band separates true pairs
    * (p≈0.17) from random ones (p≈0.016) by 10×; at cos 0.4 the ratio
    * is 2× and candidates degenerate to all pairs. Both paths emit
    * identical rows (ScalaTest asserts parity with brute force).
    */
  def embeddingCosinePairs(vectors: DataFrame, threshold: Double,
                           lshCrossover: Double = 0.7): DataFrame =
    if (threshold >= lshCrossover) embeddingCosineLshPairs(vectors, threshold)
    else embeddingCosineBlockedPairs(vectors, threshold)

  /** Semantic near-dup pairs: banded sign-LSH candidate generation +
    * exact quantized-dot verification — the HIGH-threshold regime of
    * [[embeddingCosinePairs]]. The output is EXACTLY the pairs
    * with `dot_q >= threshold` whose bucket sets intersect; with enough
    * bands the miss probability `(1-(1-θ/π)^rows)^bands` is driven
    * below any target, and the ScalaTest recall check asserts parity
    * with the brute-force join on the test corpus.
    *
    * Plan shape (the point, vs the previous all-pairs formulation): the
    * candidate join is an EQUI-join on bucket id — a shuffle keyed by
    * bucket, cost bounded by bucket collisions, never an n² nested-loop
    * product — and it is fully NARROW: only (vec_id, bucket) rows enter
    * the explode and the bucket shuffle, never the vector payload
    * (carrying qv through the 24-way explode multiplied the cached/
    * shuffled bytes by `bands` and dominated the runtime). Candidate id
    * pairs are deduplicated as 16-byte keys, then the two quantized
    * vectors are fetched by two vec_id equi-joins against the narrow
    * persisted base — so a pair sharing b bands costs ONE dot product
    * and the wide payload crosses a shuffle exactly twice, independent
    * of `bands`.
    */
  def embeddingCosineLshPairs(vectors: DataFrame, threshold: Double,
                              rows: Int = 3, bands: Int = 24): DataFrame =
    embeddingCosineLshPairsStamped(vectors, threshold, rows, bands)._1

  /** [[embeddingCosineLshPairs]] plus the thunk releasing the persisted
    * quantized base (read by both candidate-join sides and both payload
    * fetches); call it once the result's actions complete. The plain
    * form is for harnesses that `clearCache()` per query.
    */
  def embeddingCosineLshPairsStamped(vectors: DataFrame, threshold: Double,
                              rows: Int = 3, bands: Int = 24): (DataFrame, () => Unit) = {
    import graft.functions.QuantizedDot.quantizedDot
    import graft.functions.SignLshBuckets.signLshBuckets
    val base = vectors
      .select(col("vec_id"), graft.functions.QuantizedDot.quantize(col("embedding")).as("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // (vec_id, bucket) only — recomputing the bucket ids from cache for
    // each join side is n·bands·rows·dim primitive mults, far cheaper
    // than materializing 24 copies of every vector
    val ex = base.select(col("vec_id"),
      explode(signLshBuckets(col("qv"), rows, bands)).as("bucket"))
    val cand = ex.as("a").join(ex.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    val result = cand
      .join(base.select(col("vec_id").as("vec_a"), col("qv").as("qv_a")), "vec_a")
      .join(base.select(col("vec_id").as("vec_b"), col("qv").as("qv_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        quantizedDot(col("qv_a"), col("qv_b")).as("dot_q"))
      // round, don't truncate: 0.7 * 1e6 = 699999.9999… in double, and
      // .toLong would admit the sub-threshold boundary pair
      .filter(col("dot_q") >= math.round(threshold * 1e6)) // cos ≈ dot_q / 1e6 on unit vectors
    (result, () => { base.unpersist(); () })
  }

  /** Per-doc merged half-open TOKEN ranges [span_start, span_end)
    * covered by word-`n`-grams occurring in ≥2 documents — the
    * span-level output a removal pass consumes (vs the per-doc counts
    * of `dedup_substring_spans`). Gram-keyed: one groupBy on the gram
    * text, a re-join against the (tiny) repeated set, then the I5
    * running-max interval merge keyed by doc — never doc×doc, and the
    * merge's window is per-doc with unique positions (tie-safe).
    */
  def substringSpanRanges(docs: DataFrame, n: Int = 25): DataFrame = {
    val toks = filter(split(col("text"), "\\s+"), t => t =!= lit(""))
    val base = docs.select(col("doc_id"), toks.as("t"))
    // positional gram stream: (doc_id, token position, n-gram text)
    val grams = base.select(col("doc_id"),
      posexplode(when(size(col("t")) >= n,
        transform(sequence(lit(0), size(col("t")) - n),
          i => array_join(slice(col("t"), i + 1, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))).as(Seq("pos", "gram")))
    val repeated = grams.groupBy(col("gram"))
      .agg(count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
    val spans = grams.join(repeated.select(col("gram")), "gram")
      .select(col("doc_id"), col("pos").cast("long").as("range_start"),
        (col("pos") + n).cast("long").as("range_end"))
    graft.ops.Intervals.merge(spans, "doc_id")
      .select(col("doc_id"), col("range_start").as("span_start"),
        col("range_end").as("span_end"))
  }

  /** The removal pass the span ranges exist for: rebuild each doc's
    * text with every repeated-span token excised. Spans per doc are a
    * FEW ranges (merged, bounded by doc length / n), so they ride a
    * collect_list into a per-doc array and the excision is one codegen'd
    * higher-order filter over the token array — no token-level join, no
    * extra shuffle beyond the span computation itself. Docs without
    * repeated spans pass through (left join + empty-array coalesce);
    * whitespace is normalized to single spaces on BOTH engines (tokens
    * re-joined), so the rebuilt text is oracle-comparable.
    */
  def removeRepeatedSpans(docs: DataFrame, n: Int = 25): DataFrame = {
    val spans = substringSpanRanges(docs, n)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val toks = filter(split(col("text"), "\\s+"), t => t =!= lit(""))
    docs.select(col("doc_id"), toks.as("t"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("spans", coalesce(col("spans"),
        array().cast("array<struct<span_start:bigint,span_end:bigint>>")))
      .withColumn("kept", filter(col("t"), (tok, i) =>
        !exists(col("spans"), sp =>
          i.cast("long") >= sp.getField("span_start") &&
            i.cast("long") < sp.getField("span_end"))))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("text_clean"),
        (size(col("t")) - size(col("kept"))).cast("long").as("n_tokens_removed"))
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup on a content hash: representative = min doc_id.
    "dedup_exact" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(md5(to_binary(col("text"), lit("utf-8"))).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))),

    // PREFIX dedup — the tier between whole-text exact and near-dup:
    // docs identical in their first 16 tokens but diverging later
    // (boilerplate-headed pages, truncation variants) hash-group on
    // the prefix alone; only families ≥ 2 are emitted. Same one
    // map-side-combining aggregate shape as dedup_exact — the prefix
    // hash is computed per row from the token array, no explode.
    "dedup_exact_prefix" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(to_binary(array_join(
            slice(TextAnalysis.tokens(col("text")), 1, 16), " "),
            lit("utf-8"))).as("prefix_hash"))
        .groupBy(col("prefix_hash"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_docs"))
        .where(col("n_docs") >= 2)),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      ngramJaccardPairs(Tables.documents(s, dir), 0.12)),

    // Boundary-continuation pairs (round 13): doc A's last 4 tokens ==
    // doc B's first 4 tokens — the shard-boundary artifact of scraped
    // corpora (one page split across two records), which whole-text and
    // Jaccard dedup both miss because the overlap is a sliver. One md5
    // head hash + one tail hash per doc, then a hash-keyed equi-join —
    // collision-bounded like every candidate generator here, never n².
    "dedup_boundary_continuation" -> ((s, dir) => {
      val k = 4
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
        .where(size(col("t")) >= k)
      val heads = d.select(col("doc_id"),
        md5(to_binary(concat_ws(" ", slice(col("t"), 1, k)), lit("utf-8"))).as("h"))
      val tails = d.select(col("doc_id"),
        md5(to_binary(concat_ws(" ", slice(col("t"), -k, k)), lit("utf-8"))).as("h"))
      tails.as("a").join(heads.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("tail_doc"), col("b.doc_id").as("head_doc"),
          col("a.h").as("boundary_hash"))
    }),

    // asymmetric subset-duplication pairs at containment ≥ 0.5 — the
    // doc-inside-doc cases Jaccard dilutes away
    "dedup_containment" -> ((s, dir) =>
      containmentPairs(Tables.documents(s, dir), 0.5)),

    // exact threshold-Jaccard join over shingle sets by prefix
    // filtering — candidates only from each doc's rarest ~10% of
    // shingles; same measure as dedup_ngram_jaccard, no df cap
    "dedup_prefix_jaccard" -> ((s, dir) =>
      prefixJaccardPairs(Tables.documents(s, dir), thresholdPct = 90)),

    // blocking-window screen: sort once by text prefix, compare each doc
    // to its 7 successors, verify at 80% token Jaccard
    "dedup_sorted_neighborhood" -> ((s, dir) =>
      sortedNeighborhoodPairs(Tables.documents(s, dir), window = 8,
        thresholdPct = 80)),

    // the md5 ~10% bucket plays the "newly arrived batch", the rest the
    // standing corpus
    "dedup_incremental_jaccard" -> ((s, dir) =>
      incrementalJaccardPairs(Tables.documents(s, dir),
        Sampling.hashBucket(col("doc_id")) < 6554, 0.12)),

    "dedup_minhash_lsh" -> ((s, dir) =>
      minhashLshPairs(Tables.documents(s, dir), k = 32, rows = 4, estThreshold = 0.3)),

    // batch-vs-corpus banded minhash on the same md5 ~10% split as
    // dedup_incremental_jaccard (rows-only: xxhash64; recall oracled
    // by the companion below)
    "dedup_minhash_incremental" -> ((s, dir) =>
      minhashIncrementalPairs(Tables.documents(s, dir),
        Sampling.hashBucket(col("doc_id")) < 6554, k = 32, rows = 4,
        estThreshold = 0.3)),

    // ORACLED companion: recall of the incremental LSH candidates vs
    // the exact incremental Jaccard pairs at 0.5 (same split, same
    // corpus-frequency df-cap), floor 0.7 — the oracle reproduces
    // n_exact with the incremental CTEs and pins meets_floor
    "dedup_minhash_incr_recall" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = Sampling.hashBucket(col("doc_id")) < 6554
      val exact = incrementalJaccardPairs(docs, batch, 0.5)
        .select(col("batch_doc"), col("corpus_doc"))
      val lsh = minhashIncrementalPairs(docs, batch, k = 32, rows = 4,
          estThreshold = 0.3)
        .select(col("batch_doc"), col("corpus_doc"))
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      val nHits = lsh.join(exact, Seq("batch_doc", "corpus_doc"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      nExact.crossJoin(nHits)
        .select(col("n_exact"), lit(0.7).as("recall_floor"),
          (col("n_hits") >= col("n_exact") * lit(0.7)).as("meets_floor"))
    }),

    // ORACLED companion for the banded-minhash path (the ann_ivf_recall
    // pattern): recall of the LSH pairs against the EXACT shingle-
    // Jaccard pairs at 0.5, collapsed to a floor boolean. The oracle
    // reproduces n_exact with the same CTEs as dedup_ngram_jaccard and
    // pins meets_floor=true, so a banding/signature regression that
    // drops true near-dup pairs flips the boolean and fails the hash
    // compare. Floor 0.7 is conservative: measured recall at sf0.01 is
    // 1.0, and the ≥0.5-Jaccard band of the est≥0.3 cut is ~2σ wide
    // for 32 permutations.
    "dedup_minhash_recall" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val exact = ngramJaccardPairs(docs, 0.5).select(col("doc_a"), col("doc_b"))
      val lsh = minhashLshPairs(docs, k = 32, rows = 4, estThreshold = 0.3)
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      val nHits = lsh.select(col("doc_a"), col("doc_b"))
        .join(exact, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      // 1-row × 1-row cross join — two scalars, never data-sized
      nExact.crossJoin(nHits)
        .select(col("n_exact"), lit(0.7).as("recall_floor"),
          (col("n_hits") >= col("n_exact") * lit(0.7)).as("meets_floor"))
    }),

    "dedup_simhash" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"), simhash(col("text")).as("simhash"))),

    // Banded hamming-distance dedup over the fingerprints (xxhash64-
    // based → rows-only; planted-near-dup recall in ScalaTest).
    "dedup_simhash_pairs" -> ((s, dir) =>
      simhashPairs(Tables.documents(s, dir), maxHamming = 3)),

    // ORACLED companion for the banded simhash path: the banded pair
    // set is compared against the DIRECT hamming<=3 pair set, computed
    // brute-force over the 8-byte fingerprints via the same
    // triangle-replicated blocked grid self-join as
    // [[embeddingCosineBlockedPairs]] (an EQUI-join on the cell id —
    // no Cartesian node; the replicated payload is one long per row).
    // Both deltas are THEOREM-pinned integers, not measured floors:
    // missed = 0 by the pigeonhole argument (hamming<=3 over 4 bands of
    // 16 bits forces at least one equal band), spurious = 0 because the
    // banded path verifies `bit_count(xor) <= 3` itself. The oracle
    // reproduces the zeros and the boolean, so ANY recall or precision
    // regression in the fingerprint, banding, or verification flips a
    // value and fails the driver's hash compare — giving the rows-only
    // `dedup_simhash`/`dedup_simhash_pairs` a driver-checkable guard.
    "dedup_simhash_recall" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val blocks = 16
      val base = docs.select(col("doc_id"), simhash(col("text")).as("simhash"))
        .withColumn("g", pmod(xxhash64(col("doc_id")), lit(blocks)).cast("int"))
      val lhs = base.select(col("doc_id"), col("simhash"), col("g").as("ci"),
        explode(sequence(col("g"), lit(blocks - 1))).as("cj"))
      val rhs = base.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), col("g"))).as("ci"), col("g").as("cj"))
      val direct = lhs.as("a").join(rhs.as("b"),
          col("a.ci") === col("b.ci") && col("a.cj") === col("b.cj") &&
            (col("a.ci") =!= col("a.cj") || col("a.doc_id") < col("b.doc_id")))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("int").as("hamming"))
        .filter(col("hamming") <= 3)
        .select(col("doc_a"), col("doc_b"))
      val banded = simhashPairs(docs, maxHamming = 3).select(col("doc_a"), col("doc_b"))
      val nMissed = direct.join(banded, Seq("doc_a", "doc_b"), "left_anti")
        .agg(count(lit(1)).as("n_missed"))
      val nSpurious = banded.join(direct, Seq("doc_a", "doc_b"), "left_anti")
        .agg(count(lit(1)).as("n_spurious"))
      // 1-row × 1-row cross join — two scalars, never data-sized
      nMissed.crossJoin(nSpurious)
        .select(col("n_missed"), col("n_spurious"),
          (col("n_missed") === 0 && col("n_spurious") === 0).as("sets_equal"))
    }),

    // Exact SUBSTRING duplication (the "repeated 50-token span" dedup of
    // the published substring-dedup method, scaled down to the fixture's
    // document lengths): every word-25-gram occurring in ≥2 documents,
    // reported per containing doc with its count — the span-removal
    // tier that catches boilerplate n-gram-Jaccard misses (two long
    // docs sharing one paragraph have low global Jaccard). Plan shape:
    // the gram stream is (doc_id, 8-byte hash) with the string
    // alongside; repeated grams come from one groupBy keyed on the
    // gram; the report re-joins docs only against the (tiny) repeated
    // set via its hash — never doc×doc.
    "dedup_substring_spans" -> ((s, dir) => {
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.WordShingles.wordShingles(col("text"), 25))
            .as("gram"))
      val repeated = grams.groupBy(col("gram"))
        .agg(count_distinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 2)
      grams.join(repeated, "gram")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_repeated_grams"),
          max(col("n_docs")).as("max_gram_spread"))
    }),

    // Span-level output of the substring tier — what a removal pass
    // actually consumes: per doc, the MERGED half-open token ranges
    // [span_start, span_end) covered by word-25-grams that occur in ≥2
    // documents. Same gram-keyed plan as `dedup_substring_spans` (one
    // groupBy on the gram, re-join against the tiny repeated set, never
    // doc×doc) plus the I5 interval merge keyed by doc — overlapping
    // occurrences of a repeated paragraph collapse to one removable
    // range instead of 25 counts.
    "dedup_substring_span_ranges" -> ((s, dir) =>
      substringSpanRanges(Tables.documents(s, dir))),

    // the removal pass applied: repeated spans excised from the text
    "dedup_remove_spans" -> ((s, dir) =>
      removeRepeatedSpans(Tables.documents(s, dir))),

    // Semantic near-dup at the reference threshold (cos 0.4): the regime
    // router picks the blocked exact grid join — every pair costs one
    // exact int64 quantized dot, met in exactly one grid cell. The
    // oracle stays the brute-force all-pairs SQL, so the hash compare
    // proves the blocked plan loses nothing.
    "dedup_embedding_cosine" -> ((s, dir) =>
      embeddingCosinePairs(Tables.embeddings(s, dir), 0.4))
  )

  /** Tokens → distinct 3-gram shingles over the documents matching
    * `pred`: the base CTEs every shingle oracle shares ([[DedupCluster]]
    * reuses them verbatim, [[Curate]] instantiates them train-only).
    */
  private[ext] def shingleCtesFor(pred: String): String =
    s"""toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS t
      |  FROM documents WHERE $pred),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(t) >= 3 THEN list_transform(generate_series(1, len(t) - 2),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [] END)) AS shingle
      |  FROM toks)""".stripMargin

  private[ext] val shingleCtes: String = shingleCtesFor("TRUE")

  /** The jaccard oracle's CTE chain (shingles → df-capped index →
    * per-doc sizes → pair intersections) over the documents matching
    * `pred`, shared so every oracle that builds on the pair graph closes
    * over definitionally the same query.
    */
  private[ext] def ngramCtesFor(pred: String): String =
    s"""${shingleCtesFor(pred)},
      |shf AS (
      |  SELECT * FROM sh WHERE shingle NOT IN (
      |    SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 1000)),
      |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shf GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)""".stripMargin

  private[ext] val ngramCtes: String = ngramCtesFor("TRUE")

  val oracleSql: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "dedup_exact_prefix" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
        |  FROM documents)
        |SELECT md5(array_to_string(toks[1:16], ' ')) AS prefix_hash,
        |  min(doc_id) AS keep_doc_id, count(*) AS n_docs
        |FROM t GROUP BY 1 HAVING count(*) >= 2""".stripMargin,

    "dedup_boundary_continuation" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS t
        |  FROM documents),
        |dd AS (SELECT doc_id, t FROM d WHERE len(t) >= 4),
        |heads AS (SELECT doc_id, md5(array_to_string(t[1:4], ' ')) AS h FROM dd),
        |tails AS (SELECT doc_id, md5(array_to_string(t[-4:], ' ')) AS h FROM dd)
        |SELECT a.doc_id AS tail_doc, b.doc_id AS head_doc, a.h AS boundary_hash
        |FROM tails a JOIN heads b ON a.h = b.h AND a.doc_id <> b.doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      (s"WITH $ngramCtes\n" +
      """SELECT doc_a, doc_b, n_common, sa.n_shingles AS n_a, sb.n_shingles AS n_b,
        |  round(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE n_common / (sa.n_shingles + sb.n_shingles - n_common) >= 0.12""".stripMargin),
    "dedup_containment" ->
      (s"WITH $ngramCtes\n" +
      """SELECT doc_a, doc_b, n_common, sa.n_shingles AS n_a, sb.n_shingles AS n_b,
        |  round(n_common / least(sa.n_shingles, sb.n_shingles), 6) AS containment
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE n_common / least(sa.n_shingles, sb.n_shingles) >= 0.5""".stripMargin),
    // brute force over ALL shingle-sharing pairs — the prefix filter is
    // an exact algorithm, so its output must equal the unfiltered join
    "dedup_prefix_jaccard" ->
      """WITH t0 AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(t) >= 3 THEN list_transform(generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [] END)) AS tok
        |  FROM t0),
        |sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, n_common, sa.n AS n_a, sb.n AS n_b,
        |  round(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE 100 * n_common >= 90 * (sa.n + sb.n - n_common)""".stripMargin,
    // row_number over the same (blocking key, doc_id) order; pairs at
    // position distance 1..7; identical token-join verification
    "dedup_sorted_neighborhood" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    substr(regexp_replace(lower(text), '\s+', '', 'g'), 1, 12) AS bk
        |  FROM documents),
        |p AS (SELECT doc_id, row_number() OVER (ORDER BY bk, doc_id) - 1 AS pos FROM d),
        |cand AS (
        |  SELECT least(a.doc_id, b.doc_id) AS doc_a,
        |    greatest(a.doc_id, b.doc_id) AS doc_b
        |  FROM p a JOIN p b ON b.pos > a.pos AND b.pos <= a.pos + 7),
        |tk AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_filter(string_split_regex(text, '\s+'), x -> x != ''))) AS tok
        |  FROM documents),
        |sizes AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |  FROM cand c
        |  JOIN tk a ON a.doc_id = c.doc_a
        |  JOIN tk b ON b.doc_id = c.doc_b AND b.tok = a.tok
        |  GROUP BY c.doc_a, c.doc_b)
        |SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS n_a, sb.n AS n_b
        |FROM inter i
        |JOIN sizes sa ON sa.doc_id = i.doc_a
        |JOIN sizes sb ON sb.doc_id = i.doc_b
        |WHERE 100 * i.n_common >= 80 * (sa.n + sb.n - i.n_common)""".stripMargin,
    // the zeros are pinned by theorem (pigeonhole recall + in-path
    // hamming verification), so DuckDB reproduces the full row without
    // being able to run xxhash64 — any Spark-side regression flips a
    // value and the hash compare fails
    "dedup_simhash_recall" ->
      """SELECT CAST(0 AS BIGINT) AS n_missed, CAST(0 AS BIGINT) AS n_spurious,
        |  CAST(TRUE AS BOOLEAN) AS sets_equal""".stripMargin,
    "dedup_minhash_recall" ->
      (s"WITH $ngramCtes\n" +
      """SELECT CAST(count(*) AS BIGINT) AS n_exact, CAST(0.7 AS DOUBLE) AS recall_floor,
        |  CAST(TRUE AS BOOLEAN) AS meets_floor
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE n_common / (sa.n_shingles + sb.n_shingles - n_common) >= 0.5""".stripMargin),
    "dedup_minhash_incr_recall" ->
      (s"WITH $shingleCtes,\n" +
      """corpus AS (SELECT * FROM sh
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) >= 6554),
        |batch AS (SELECT * FROM sh
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) < 6554),
        |hot AS (SELECT shingle FROM corpus GROUP BY shingle HAVING count(*) > 1000),
        |cf AS (SELECT * FROM corpus WHERE shingle NOT IN (SELECT shingle FROM hot)),
        |bf AS (SELECT * FROM batch WHERE shingle NOT IN (SELECT shingle FROM hot)),
        |sc AS (SELECT doc_id, count(*) AS n_c FROM cf GROUP BY doc_id),
        |sb AS (SELECT doc_id, count(*) AS n_b FROM bf GROUP BY doc_id),
        |inc AS (
        |  SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc, count(*) AS n_common
        |  FROM bf b JOIN cf c ON b.shingle = c.shingle
        |  GROUP BY b.doc_id, c.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact, CAST(0.7 AS DOUBLE) AS recall_floor,
        |  CAST(TRUE AS BOOLEAN) AS meets_floor
        |FROM inc
        |JOIN sb ON sb.doc_id = batch_doc
        |JOIN sc ON sc.doc_id = corpus_doc
        |WHERE n_common / (sb.n_b + sc.n_c - n_common) >= 0.5""".stripMargin),
    "dedup_incremental_jaccard" ->
      (s"WITH $shingleCtes,\n" +
      """corpus AS (SELECT * FROM sh
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) >= 6554),
        |batch AS (SELECT * FROM sh
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) < 6554),
        |hot AS (SELECT shingle FROM corpus GROUP BY shingle HAVING count(*) > 1000),
        |cf AS (SELECT * FROM corpus WHERE shingle NOT IN (SELECT shingle FROM hot)),
        |bf AS (SELECT * FROM batch WHERE shingle NOT IN (SELECT shingle FROM hot)),
        |sc AS (SELECT doc_id, count(*) AS n_c FROM cf GROUP BY doc_id),
        |sb AS (SELECT doc_id, count(*) AS n_b FROM bf GROUP BY doc_id),
        |inc AS (
        |  SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc, count(*) AS n_common
        |  FROM bf b JOIN cf c ON b.shingle = c.shingle
        |  GROUP BY b.doc_id, c.doc_id)
        |SELECT batch_doc, corpus_doc, n_common, sb.n_b, sc.n_c,
        |  round(n_common / (sb.n_b + sc.n_c - n_common), 6) AS jaccard
        |FROM inc
        |JOIN sb ON sb.doc_id = batch_doc
        |JOIN sc ON sc.doc_id = corpus_doc
        |WHERE n_common / (sb.n_b + sc.n_c - n_common) >= 0.12""".stripMargin),
    "dedup_substring_spans" ->
      """WITH t25 AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(t) >= 25 THEN list_transform(generate_series(1, len(t) - 24),
        |      i -> array_to_string(t[i : i + 24], ' ')) ELSE [] END)) AS gram
        |  FROM t25),
        |rep AS (
        |  SELECT gram, count(DISTINCT doc_id) AS n_docs
        |  FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2)
        |SELECT g.doc_id, count(*) AS n_repeated_grams,
        |  CAST(max(rep.n_docs) AS BIGINT) AS max_gram_spread
        |FROM g JOIN rep ON g.gram = rep.gram
        |GROUP BY g.doc_id""".stripMargin,
    // Positional 25-grams (struct unnest), repeated-gram spans, then the
    // classic running-max island merge — mirrors Intervals.merge's
    // half-open adjacency rule (s > prev_max_e breaks, s = prev_max_e
    // merges). Positions are unique per doc (one gram per token index),
    // so the window order is total and tie-safe.
    "dedup_substring_span_ranges" ->
      """WITH t25 AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 25
        |    THEN list_transform(generate_series(1, len(t) - 24),
        |      i -> struct_pack(pos := i - 1, gram := array_to_string(t[i : i + 24], ' ')))
        |    ELSE [] END, recursive := true)
        |  FROM t25),
        |rep AS (
        |  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |spans AS (
        |  SELECT g.doc_id, pos AS s, pos + 25 AS e
        |  FROM g JOIN rep ON g.gram = rep.gram),
        |ord AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
        |  FROM spans),
        |isl AS (
        |  SELECT doc_id, s, e, sum(brk) OVER (PARTITION BY doc_id ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM ord)
        |SELECT doc_id, min(s) AS span_start, max(e) AS span_end
        |FROM isl GROUP BY doc_id, island""".stripMargin,
    // The span chain again, then every doc rebuilt from the tokens NOT
    // covered by a merged span (anti EXISTS against the span set) —
    // string_agg ordered by position; docs without spans keep all
    // tokens. Both engines emit single-space-normalized text.
    "dedup_remove_spans" ->
      """WITH t25 AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 25
        |    THEN list_transform(generate_series(1, len(t) - 24),
        |      i -> struct_pack(pos := i - 1, gram := array_to_string(t[i : i + 24], ' ')))
        |    ELSE [] END, recursive := true)
        |  FROM t25),
        |rep AS (
        |  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |spans AS (
        |  SELECT g.doc_id, pos AS s, pos + 25 AS e
        |  FROM g JOIN rep ON g.gram = rep.gram),
        |ord AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
        |  FROM spans),
        |isl AS (
        |  SELECT doc_id, s, e, sum(brk) OVER (PARTITION BY doc_id ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM ord),
        |merged AS (
        |  SELECT doc_id, min(s) AS span_start, max(e) AS span_end
        |  FROM isl GROUP BY doc_id, island),
        |tokpos AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)),
        |    i -> struct_pack(pos := i - 1, tok := t[i])), recursive := true)
        |  FROM t25),
        |kept AS (
        |  SELECT tp.doc_id, tp.pos, tp.tok
        |  FROM tokpos tp
        |  WHERE NOT EXISTS (SELECT 1 FROM merged m
        |    WHERE m.doc_id = tp.doc_id AND tp.pos >= m.span_start AND tp.pos < m.span_end))
        |SELECT t25.doc_id,
        |  coalesce(k.text_clean, '') AS text_clean,
        |  len(t25.t) - coalesce(k.n_kept, 0) AS n_tokens_removed
        |FROM t25 LEFT JOIN (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id) k ON k.doc_id = t25.doc_id""".stripMargin,
    // CAST dot_q back to BIGINT: DuckDB list_sum over BIGINT is HUGEINT
    "dedup_embedding_cosine" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  CAST(list_sum(list_transform(generate_series(1, len(a.embedding)),
        |    i -> CAST(round(CAST(a.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
        |       * CAST(round(CAST(b.embedding[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS dot_q
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(generate_series(1, len(a.embedding)),
        |    i -> CAST(round(CAST(a.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
        |       * CAST(round(CAST(b.embedding[i] AS DOUBLE) * 1000) AS BIGINT))) >= 400000""".stripMargin
  )
}
