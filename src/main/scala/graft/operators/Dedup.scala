package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Text
import graft.sources.StormSinks

/** Deduplication operators for 100 TB training-data prep.
  *
  * Scale design: every variant is shuffle-once. Exact dedup shuffles on
  * the content hash (map-side partial agg first). The near-dup variants
  * never do an O(n²) cross join: candidates come from an inverted-index
  * or banded-bucket join keyed on a short signature — the classic
  * MinHash-LSH / SimHash-chunk construction — and only candidate pairs
  * pay the exact-verification cost. All signatures are computed with
  * built-in array HOFs + xxhash64, so signature generation is a narrow
  * codegen'd map.
  *
  * PIPELINE: every near-dup join is the same four steps, and each step
  * has ONE definition here that the batch, indexed (lake) and
  * incremental probes share:
  *   1. band or prefix — [[bitBands]] (SimHash, and pHash/sign-LSH in
  *      Multimodal and Knn), [[bandedOf]] (MinHash slices), or the
  *      PPJoin prefix [[rankPostings]] + [[inPrefix]];
  *   2. candidates — a band-key join (capped by [[capBuckets]]), or a
  *      prefix join under [[prefixBound]] (self-join `doc_a < doc_b`
  *      in [[selfCandidates]], touching probe in
  *      [[prefixCandidates]]), or the asymmetric [[minhashProbe]];
  *   3. one exact verify — [[verifyJaccard]] (containment keeps its own
  *      |A∩B|/|A| formula);
  *   4. cluster — [[clusters]], and for incremental maintenance the
  *      quotient merge ([[besideBatch]] prelude, [[quotientOf]] core).
  * Helpers return frames that are NOT materialized; every
  * `Materialize.once` sits in the operator that owns the frame.
  *
  * BLOCK LIFECYCLE: the pair/cluster operators materialize internal
  * multi-consumer subtrees through [[graft.Materialize.once]]
  * (executor-local checkpoint blocks). Long-lived sessions invoking
  * them outside a [[graft.Materialize.scoped]]/[[graft.Materialize
  * .tracking]] boundary strand those blocks for the session lifetime —
  * wrap repeated calls (a streaming micro-batch, a serving loop) in
  * `scoped`, the way CorpusStream's foreachBatch bodies do (r18
  * ADVICE).
  */
object Dedup {

  /** Session conf: max fresh-set ROW COUNT the lake probe still
    * broadcasts for its shadow anti-joins. Fresh ids are longs, so the
    * default (4M rows ≈ 32 MB serialized) sits comfortably inside any
    * executor's broadcast budget while covering weeks of normal
    * publish cadence; past it the probe switches to a plain shuffle
    * anti-join instead of forcing a near-corpus-sized broadcast on
    * every executor. */
  val FreshBroadcastMaxKey = "spark.graft.dedup.freshBroadcastMax"
  val FreshBroadcastMaxDefault = 4000000L
  private def freshBroadcastMax(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(FreshBroadcastMaxKey).map(_.toLong)
      .getOrElse(FreshBroadcastMaxDefault)

  // ----------------------------------------------------------- 25: exact
  /** Exact dedup groups: normalized-text sha-256 -> group size +
    * canonical (min) doc id. Input may contain replayed rows. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_id"))

  // -------------------------------------------------------- word shingles
  /** Distinct word k-shingles of the normalized text (set semantics —
    * Jaccard is over shingle sets). Native codegen'd expression; the
    * built-in-HOF formulation lives in the test sources
    * (`ReferenceForms.shinglesHof`) and NativeExprSpec asserts the two
    * equal. */
  def shingles(text: Column, k: Int): Column =
    graft.expressions.native.shingles(text, k)

  // --------------------------------------------------------- 26: MinHash
  /** MinHash signature: for each of `perms` hash seeds, the min
    * xxhash64(seed, shingle) over the shingle set. */
  def minhashSignature(shingleCol: Column, perms: Int): Column =
    transform(sequence(lit(0), lit(perms - 1)),
      seed => array_min(transform(shingleCol, s => xxhash64(seed, s))))

  /** MinHash-LSH near-dup candidate pairs, verified with exact Jaccard.
    *
    * bands×rowsPerBand = signature length. Two docs collide iff some
    * band of their signatures is identical; one shuffle keyed on
    * (band, band-key). Returns (doc_a, doc_b, jaccard) with
    * jaccard >= threshold, doc_a < doc_b.
    *
    * The signature uses sha-256-prefix hashes (hex-string min ==
    * unsigned 64-bit min) and the band key is the raw 67-char slice
    * concat: both are reproducible in any engine with sha256 — the
    * dedup_minhash DuckDB oracle replays this pipeline exactly,
    * including which candidate pairs each band yields. (At production
    * scale the band key could be xxhash64-compressed to shrink shuffle
    * bytes; collisions only add candidates, never drop them, because
    * the exact-Jaccard verify keeps precision at 1.)
    */
  /** Per-(band, bucket) / per-(chunk, value) occupancy cap for the
    * banded self-joins ([[minhashPairs]], [[simhashPairs]]). Band keys
    * are sha-uniform over DISTINCT contents, but a duplicate-heavy
    * corpus makes them hot by data: 10⁶ copies of one document share
    * every band key, and the self-join would enumerate all ~5·10¹¹
    * copy-pairs — work nobody wants (exact dedup owns identical
    * contents; run [[exactDedup]]/fingerprint collapse FIRST, which is
    * how the composed pipelines and the incremental ingest path are
    * wired). Buckets above the cap are dropped before the join
    * (MOSS's ignore-common rule; the Multimodal.phashBucketCap
    * precedent): near-dup clusters up to the cap still pair fully,
    * and a genuinely-hot content crowd loses only its quadratic
    * self-pairs. The constant is INTERPOLATED into the oracle SQL
    * (dedup_minhash / dedup_simhash / dedup_recall), so the two sides
    * cannot drift.
    *
    * RECALL CONTRACT — the cap is NOT limited to identical-content
    * crowds: a giant NEAR-dup family of DISTINCT texts (a templated
    * page stamped out 10⁵ times) also pushes shared band keys past the
    * cap, and every tripped bucket loses that family's pairs — its
    * recall quietly falls below 1 even though exact dedup would never
    * have collapsed it. Connectivity usually survives (a family member
    * pairs through any ONE below-cap band, and clustering needs a
    * spanning set, not all pairs), but pair-level recall inside >cap
    * families is explicitly best-effort. So the cap's engagement must
    * be VISIBLE: [[capBuckets]] publishes `dropped_buckets` /
    * `dropped_rows` observed metrics (Spark UI SQL tab /
    * QueryExecutionListener, names `graft.capBuckets.N`) — an operator
    * watching a crawl corpus sees nonzero `dropped_rows` and knows to
    * run exact/fingerprint collapse ahead of the banded join or raise
    * the cap. DedupSpec pins the metric against a planted crowd. */
  val bandBucketCap = 4096L

  private val capObsId = new java.util.concurrent.atomic.AtomicLong()

  /** Drop rows of `banded` whose bucket (by `keyCols`) holds more than
    * `cap` rows — one aggregation + a join keyed on the full bucket
    * key (partial aggregation absorbs the hot key map-side). Shared by
    * the minhash/simhash band joins and [[Multimodal.phashPairs]].
    * Engagement is observable: a CollectMetrics node between the
    * df-attach join and the cap filter counts the rows/buckets the cap
    * removes (see [[bandBucketCap]]'s recall contract). The node sits
    * ABOVE the join on the UNFILTERED histogram deliberately — with
    * the filter on the histogram side (the semi-join shape), a corpus
    * whose every bucket is hot leaves that side empty and AQE's
    * empty-relation propagation deletes the whole join subtree,
    * CollectMetrics included: the metric vanished exactly when it
    * mattered most (found live in DedupSpec's all-hot crowd case).
    * `dropped_buckets` sums 1/df per dropped row — exactly 1.0 per hot
    * bucket up to fp dust (distinct aggregates are not allowed in
    * observed metrics). The name is uniqued per call site because
    * Spark requires observed names to be distinct within one plan. */
  private[operators] def capBuckets(banded: DataFrame, keyCols: Seq[String],
      cap: Long = bandBucketCap): DataFrame =
    banded.join(
        banded.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__df")),
        keyCols)
      .observe(s"graft.capBuckets.${capObsId.incrementAndGet()}",
        round(sum(when(col("__df") > cap,
          lit(1.0) / col("__df")).otherwise(0.0))).cast("long").as("dropped_buckets"),
        sum(when(col("__df") > cap, 1L).otherwise(0L)).as("dropped_rows"))
      .where(col("__df") <= cap)
      .drop("__df")

  /** THE bit-chunk band: one row per (input row, chunk) carrying the
    * `n` consecutive `bits`-wide chunks of the 64-bit column `sig`
    * (low bits first) as `as = (chunk id, chunk value)`, next to the
    * `keep` columns. The pigeonhole band of [[simhashPairs]],
    * [[Multimodal.phashPairs]], [[Knn.embeddingPairs]] and
    * [[Knn.lshTopK]]: two signatures within hamming distance < n share
    * at least one chunk exactly. */
  private[operators] def bitBands(df: DataFrame, keep: Seq[String], sig: String,
      n: Int, bits: Int, as: (String, String)): DataFrame =
    df.select(keep.map(col) :+ posexplode(transform(sequence(lit(0), lit(n - 1)),
        c => call_function("shiftrightunsigned", col(sig), c * bits)
          .bitwiseAND(lit((1L << bits) - 1)))): _*)
      .withColumnRenamed("pos", as._1).withColumnRenamed("col", as._2)

  def minhashPairs(docs: DataFrame, k: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 4, threshold: Double = 0.5): DataFrame = {
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    // ONE scan + ONE shingle/signature pass: this frame has four
    // consumers (the banding posexplode is referenced by capBuckets'
    // histogram AND join sides, and the exact-Jaccard verify re-attaches
    // sh on both endpoints). Un-materialized, the sha-256 signature
    // kernel — the operator's dominant per-row cost — re-ran per
    // consumer (r18-opt: 6 parquet scans measured in the dedup_jaccard
    // plan for the same defect class; the multi-consumer recompute rule
    // of SURVEY §5 applied to the operator's OWN input, not just the
    // banded frame below).
    val withSig = graft.Materialize.once(minhashSigOf(docs, k, bands * rowsPerBand))
    // one row per band, ids only — shingle arrays re-attach after the
    // distinct. The capped frame is MATERIALIZED once: it feeds the
    // occupancy groupBy plus both self-join sides, exchange reuse does
    // not fire across those branches, and an un-truncated plan would
    // recompute the per-doc signature pass on each (the multi-consumer
    // recompute rule); the frame is 3 small values per (doc, band).
    // Hot buckets (duplicate crowds) never reach the self-join.
    val banded = graft.Materialize.once(
      capBuckets(bandedOf(withSig, bands, rowsPerBand), Seq("band", "bucket")))
    val a = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
    // candidate ids only through the shuffle (a pair may collide in many
    // bands). Fixed-width repartition + O(n+m) intersect kernel: see
    // jaccardPairs.
    val cand = a.join(b, Seq("band", "bucket"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .repartition(parts, col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyJaccard(cand, withSig, withSig, threshold)
  }

  // ------------------------------------ 26b: incremental (batch ⋈ corpus)
  /** Asymmetric MinHash-LSH: near-dup pairs between a NEW batch and an
    * EXISTING corpus only — the daily-ingest dedup shape. Same
    * signatures/banding as [[minhashPairs]], but candidates come from a
    * batch-bands ⋈ corpus-bands join, so no corpus-corpus pair is ever
    * generated or verified: per-ingest work scales with the batch and
    * its collisions, not with |corpus|². At scale the corpus band
    * table is the persistent index — computed once, stored in the
    * lake (graftlake), and only the batch side is built per run; the
    * join shuffles band keys (64-bit entropy → bounded buckets), never
    * documents. Returns (doc_new, doc_old, jaccard ≥ threshold). */
  def minhashPairsAgainst(corpus: DataFrame, batch: DataFrame, k: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 4, threshold: Double = 0.5): DataFrame =
    minhashPairsAgainstIndex(minhashIndex(corpus, k, bands, rowsPerBand),
      batch, k, bands, rowsPerBand, threshold)

  /** Materialized MinHash signature index of a corpus:
    * (doc_id, sh, sig). Compute ONCE and reuse across
    * [[minhashPairsAgainstIndex]] probes — streaming micro-batches,
    * repeated daily ingests; at 100 TB this table is what you persist
    * to the lake as the dedup index. Note the stored size is NOT
    * constant per doc: `sig` is ~8 bytes × bands × rowsPerBand, but
    * the index also carries the full shingle-set column `sh` (needed
    * for the exact-Jaccard verify), which scales with document
    * length — budget O(document) storage, or persist the band table
    * alone and re-derive `sh` from text at probe time if storage
    * dominates. */
  def minhashIndex(docs: DataFrame, k: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 4): DataFrame =
    graft.Materialize.once(minhashSigOf(docs, k, bands * rowsPerBand))

  /** The (doc_id, sh, sig) signature projection behind
    * [[minhashIndex]] and [[minhashPairs]] (not materialized). */
  private def minhashSigOf(docs: DataFrame, k: Int, sigLen: Int): DataFrame =
    docs.select(col("doc_id"), shingles(col("text"), k).as("sh"),
      graft.expressions.native.minhashSigSha(col("text"), k, sigLen).as("sig"))

  /** THE MinHash slice band: one row per (doc, band), the band's
    * signature slice as a join key — the banded form of a
    * [[minhashIndex]] for the self-join, the probe and the published
    * `bands` table alike. */
  private def bandedOf(sigDf: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigDf.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** Publish a corpus dedup index to the versioned lake in the SPLIT
    * layout a 100 TB deployment wants (the [[minhashIndex]] frame
    * carries the O(document) shingle sets, so persisting it whole
    * makes the PROBE side pay document-sized reads):
    *
    *   `bands` — (doc_id, band, bucket), ~bands × 70 bytes/doc
    *             REGARDLESS of document size; the only table the
    *             candidate join reads, partitioned by band.
    *   `sets`  — (doc_id, sh), the exact-verify sets; only
    *             candidate doc_ids' rows ever flow past its scan.
    *
    * Both tables commit as ONE
    * [[graft.sources.StormSinks.writeVersionedGroup]] version under a
    * single `$dir/_current` pointer: they are an invariant pair (a
    * band row's candidate must find its verify set in the SAME
    * snapshot), and the per-table layout this replaces could expose
    * bands of version N with sets of version N−1 to a probe racing a
    * republish — or strand exactly that half-commit on a publisher
    * crash. A republish never races a running probe (readers resolve
    * the pointer once, old versions survive until vacuum). Probe with
    * [[minhashPairsAgainstLake]] (same k/bands/rowsPerBand).
    * `extraTables` join the same atomic version — e.g. the
    * fingerprint set [[graft.streaming.CorpusStream.publishDedupLake]]
    * ships alongside. */
  def publishMinhashLake(corpus: DataFrame, dir: String, k: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 4,
      extraTables: Seq[(String, DataFrame)] = Nil): Unit = {
    val idx = minhashIndex(corpus, k, bands, rowsPerBand)
    try {
      graft.sources.StormSinks.writeVersionedGroup(corpus.sparkSession, dir,
        Seq("bands" -> bandedOf(idx, bands, rowsPerBand),
          "sets" -> idx.select(col("doc_id"), col("sh"))) ++ extraTables,
        partitionCols = Map("bands" -> Seq("band")))
      ()
    } finally graft.Materialize.free(idx)
  }

  /** Asymmetric near-dup probe of a [[publishMinhashLake]] split
    * index: candidates from batch-bands ⋈ lake-bands (the compact
    * table), exact verify fetches lake shingle sets for CANDIDATE
    * doc_ids only. Row-identical to [[minhashPairsAgainst]] on the
    * same corpus (GraftLakeSpec pins it). Like
    * [[minhashPairsAgainstIndex]], the batch-side index this builds
    * stays materialized for the session — a foreachBatch caller
    * should build/free its own via [[minhashIndex]]. */
  def minhashPairsAgainstLake(batch: DataFrame, dir: String, k: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 4, threshold: Double = 0.5): DataFrame =
    minhashPairsLakeVsIndex(dir, minhashIndex(batch, k, bands, rowsPerBand),
      bands, rowsPerBand, threshold)

  /** [[minhashPairsAgainstLake]] with a pre-built batch-side
    * [[minhashIndex]], so a long-lived caller (streaming
    * foreachBatch) can free the batch index after each action. The
    * lake's single group `_current` pointer resolves ONCE per call —
    * bands and verify sets always come from the same snapshot (the
    * per-table layout could serve a probe racing a republish bands
    * and sets from different versions) — and per CALL, so a caller
    * creating this frame per micro-batch follows corpus-index
    * republishes without a restart. */
  def minhashPairsLakeVsIndex(dir: String, batchIndex: DataFrame,
      bands: Int = 8, rowsPerBand: Int = 4, threshold: Double = 0.5): DataFrame =
    minhashPairsLakeVsIndexAt(dir,
      StormSinks.currentVersionName(batchIndex.sparkSession, dir),
      batchIndex, bands, rowsPerBand, threshold)

  /** [[minhashPairsLakeVsIndex]] against an already-RESOLVED group
    * version `verName` of `dir` (callers composing several reads of
    * one snapshot). */
  private[graft] def minhashPairsLakeVsIndexAt(dir: String, verName: String,
      batchIndex: DataFrame, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val spark = batchIndex.sparkSession
    val corpusBands = StormSinks.readGroupTableAt(spark, dir, verName, "bands")
    val corpusSets = StormSinks.readGroupTableAt(spark, dir, verName, "sets")
    minhashProbe(bandedOf(batchIndex, bands, rowsPerBand), batchIndex,
      corpusBands, corpusSets, threshold)
  }

  /** THE asymmetric MinHash band probe: candidates from the batch's
    * bands ⋈ the corpus's bands, each (doc_id, band, bucket) — never a
    * corpus × corpus pair — verified against each side's (doc_id, sh)
    * sets. Returns (doc_new, doc_old, jaccard ≥ threshold). Builds and
    * materializes nothing, so the caller owns both sides' lifetimes. */
  private def minhashProbe(batchBands: DataFrame, batchSets: DataFrame,
      corpusBands: DataFrame, corpusSets: DataFrame, threshold: Double): DataFrame = {
    val parts = batchBands.sparkSession.sessionState.conf.numShufflePartitions
    val a = batchBands.select(col("band"), col("bucket"), col("doc_id").as("doc_new"))
    val b = corpusBands.select(col("band"), col("bucket"), col("doc_id").as("doc_old"))
    val cand = a.join(b, Seq("band", "bucket"))
      .select(col("doc_new"), col("doc_old"))
      .repartition(parts, col("doc_new"), col("doc_old"))
      .dropDuplicates("doc_new", "doc_old")
    verifyJaccard(cand, batchSets, corpusSets, threshold, "doc_new", "doc_old")
  }

  /** [[minhashPairsAgainst]] with a pre-built corpus index
    * ([[minhashIndex]] with the SAME k/bands/rowsPerBand).
    *
    * The batch-side index this builds internally stays materialized
    * for the session — a long-lived caller probing many batches
    * (streaming foreachBatch) must instead build it explicitly via
    * [[minhashIndex]], probe through
    * [[minhashPairsBetweenIndexes]], and `Materialize.free` it after
    * the batch's action completes, or blocks accumulate per batch. */
  def minhashPairsAgainstIndex(corpusIndex: DataFrame, batch: DataFrame,
      k: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame =
    // the batch signature table feeds TWO consumers (band explode +
    // verify re-attach) and exchange reuse does not fire across
    // consumer branches — materialize once (PlanSpec's scan budget
    // caught the un-materialized form at 12 parquet scans).
    minhashPairsBetweenIndexes(corpusIndex,
      minhashIndex(batch, k, bands, rowsPerBand), bands, rowsPerBand, threshold)

  /** Core asymmetric band join over two pre-built [[minhashIndex]]
    * tables (same bands/rowsPerBand on both). Builds nothing and
    * materializes nothing itself, so the caller controls both index
    * lifetimes — the streaming ingest path frees the batch side after
    * every micro-batch. */
  def minhashPairsBetweenIndexes(corpusIndex: DataFrame, batchIndex: DataFrame,
      bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame =
    minhashProbe(bandedOf(batchIndex, bands, rowsPerBand), batchIndex,
      bandedOf(corpusIndex, bands, rowsPerBand), corpusIndex, threshold)

  // --------------------- 38b: cluster representative selection
  /** Keep-BEST cluster representative — [[clusters]] (and the oracle
    * convention throughout) canonicalizes on min doc_id, which is
    * arrival order, not merit; production dedup keeps the member with
    * the most content. Per cluster: the member with the longest
    * normalized text (ties → min doc_id — a TOTAL order, so the
    * choice is deterministic and engine-replayable).
    *
    * Shuffle-bounded by construction: the election is a map-side
    * partial `max(struct(len, -doc_id))` aggregate keyed on
    * cluster_id — one candidate row per (map partition, cluster)
    * rides the shuffle, a hot cluster costs O(1) memory — not a
    * window sort over whole groups. Output: (cluster_id, kept_id,
    * kept_len, n_members). */
  def keepBest(labels: DataFrame, docs: DataFrame): DataFrame =
    labels.join(
        docs.select(col("doc_id"),
          length(Text.normalize(col("text"))).cast("long").as("len")),
        "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("len"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("cluster_id"), (-col("best.nid")).as("kept_id"),
        col("best.len").as("kept_len"), col("n_members"))

  // -------------------------------- 25b: Bloom membership prefilter
  /** Bloom-prefilter parameters: k=4 sha-derived positions over an
    * m=2^20-bit bitmap (128 KiB). At the index's design load of ~10⁵
    * distinct fingerprints the false-positive rate is
    * (k·n/m)^k ≈ 2%; at the test corpus (450 docs, ≤1800 set bits)
    * it is ~10⁻¹². Scale past 10⁵ fingerprints by raising
    * [[bloomHexChars]] — each +1 hex char quarters nothing and
    * 16×es m (6 chars = 2 MiB for ~10⁶ fingerprints at the same FP
    * rate); positions stay engine-replayable at any size. */
  val bloomHashes = 4
  val bloomHexChars = 5
  /** 4 bits per hex char — positions are uniform in [0, bloomBits). */
  val bloomBits: Int = 1 << (bloomHexChars * 4)

  /** The k Bloom bit positions of one document's content fingerprint:
    * position_i = first [[bloomHexChars]] hex chars of
    * sha256(i || "|" || fingerprint), parsed as an integer. sha-derived
    * (not xxhash) so ANY engine replays membership — including which
    * false positives fire — exactly; the dedup_bloom DuckDB oracle
    * compares the same hex prefixes as strings. */
  def bloomPositions(text: Column): Column = {
    val fp = Text.fingerprint(text)
    array((0 until bloomHashes).map { i =>
      conv(substring(sha2(concat(lit(s"$i|"), fp), 256), 1, bloomHexChars),
        16, 10).cast("long")
    }: _*)
  }

  /** One-row (bitmap BINARY) Bloom membership index over a corpus's
    * content fingerprints — the O(1)-size ingest prefilter. Built in
    * one corpus scan with the native [[graft.expressions.BloomAgg]]:
    * constant 128 KiB aggregation state per map partition, OR-merged,
    * independent of corpus size. Where [[exactGroups]] answers "which
    * docs are copies", this answers the incremental-ingest question —
    * "is this NEW doc's content already in the corpus?" — without
    * shuffling the batch against a corpus-sized fingerprint table:
    * the bitmap broadcasts and each batch row probes it map-side
    * ([[bloomProbe]]). Probe semantics are maybe-in (false positives
    * possible at design load, never false negatives); a downstream
    * exact path confirms positives, while the ~98%+ of genuinely-fresh
    * docs skip it entirely. */
  def bloomIndex(corpus: DataFrame): DataFrame =
    corpus.select(explode(bloomPositions(col("text"))).as("pos"))
      .agg(graft.expressions.native.bloomAgg(col("pos"), bloomBits).as("bitmap"))

  /** Map-side membership classification of a batch against a built
    * [[bloomIndex]]: (doc_id, maybe_dup). Zero shuffle — the one-row
    * bitmap broadcasts and the probe is a codegen'd scalar over the
    * batch scan. */
  def bloomProbe(index: DataFrame, batch: DataFrame): DataFrame =
    batch.crossJoin(broadcast(index))
      .select(col("doc_id"),
        graft.expressions.native.bloomContains(col("bitmap"),
          bloomPositions(col("text"))).as("maybe_dup"))

  /** Publish the corpus Bloom bitmap as a versioned-lake table —
    * build once at corpus-publish time, probe per ingest batch
    * ([[bloomProbeLake]]). Deletion note: a Bloom bitmap cannot unset
    * a member's bits (bits are shared), so content deletion leaves the
    * index OVER-inclusive — deleted content reads as maybe_dup until
    * the next republish. That is the safe direction for a prefilter
    * (extra maybes go to the exact path; nothing fresh is dropped),
    * so LakeDeletion's contract here is republish-on-takedown, not
    * in-place repair. */
  def publishBloomLake(corpus: DataFrame, dir: String): Int =
    graft.sources.StormSinks.writeVersionedTable(bloomIndex(corpus), dir)

  /** [[bloomProbe]] against the published lake bitmap: reads the
    * current version's one-row table fresh from columnar storage. */
  def bloomProbeLake(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame): DataFrame =
    bloomProbe(spark.read.format("graftlake").load(dir), batch)

  // --------------------------------------------------------- 27: SimHash
  /** 64-bit SimHash over word unigrams: per bit, sum +1/-1 votes of
    * each token's xxhash64; sign becomes the bit. Native codegen'd
    * expression; the HOF reference form is
    * `ReferenceForms.simhash64Hof` in the test sources. */
  def simhash64(text: Column): Column = graft.expressions.native.simhash64(text)

  /** [[simhash64]] with sha-256-prefix token hashes — same construction,
    * engine-reproducible (DuckDB oracle replays it); used by
    * [[simhashPairs]]. */
  def simhash64Sha(text: Column): Column = graft.expressions.native.simhash64Sha(text)

  /** SimHash near-dup pairs with hamming distance <= maxHamming.
    * Pigeonhole: split 64 bits into (maxHamming+1) chunks — any pair
    * within distance k shares at least one exact chunk; join on
    * (chunk id, chunk value), verify with bit_count(xor). Lossless
    * (recall 1) by construction.
    *
    * Scale: chunk width is 64/(maxHamming+1) bits and chunk values of a
    * SimHash are near-uniform, so bucket population ~ n / 2^chunkBits.
    * maxHamming=3 → 16-bit chunks → 65,536 buckets per chunk: at 10⁹
    * docs that's ~15k docs per bucket (~10⁸ candidate pairs per chunk,
    * re-checked by a single bit_count) — feasible; maxHamming=6 → 9-bit
    * chunks → 512 buckets is a within-bucket n² scale-killer, which is
    * why 3 is the default and the shipped query setting.
    *
    * Token hashes are sha-256 prefixes, so the dedup_simhash DuckDB
    * oracle reproduces the signature (and therefore every pair) exactly.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val nChunks = maxHamming + 1
    val chunkBits = 64 / nChunks
    // ONE scan + ONE simhash pass: the chunk posexplode below is
    // referenced twice inside capBuckets (histogram + join side), so an
    // un-materialized signature ran the sha-per-token simhash kernel
    // twice over the corpus (r18-opt; the posexplode itself re-runs over
    // the checkpointed blocks, which is 4 shift-and-mask ops per row).
    val withSim = graft.Materialize.once(
      docs.select(col("doc_id"), simhash64Sha(col("text")).as("sim")))
    // the [[bandBucketCap]] occupancy guard: identical contents share
    // every chunk value, so a duplicate crowd is a hot bucket by data.
    // Materialized once for the same three-consumer reason as
    // minhashPairs' banded frame (3 longs per (doc, chunk) row).
    val chunked = graft.Materialize.once(capBuckets(
      bitBands(withSim, Seq("doc_id", "sim"), "sim", nChunks, chunkBits, ("chunk", "val")),
      Seq("chunk", "val")))
    val a = chunked.select(col("chunk"), col("val"),
      col("doc_id").as("doc_a"), col("sim").as("sim_a"))
    val b = chunked.select(col("chunk"), col("val"),
      col("doc_id").as("doc_b"), col("sim").as("sim_b"))
    a.join(b, Seq("chunk", "val"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming) // filter BEFORE the pair-dedup
      .dropDuplicates("doc_a", "doc_b")    // shuffle: survivors only
  }

  // --------------------------------- 38: dedup clusters from a pair list
  /** Connected components over a near-dup pair list → (doc_id,
    * cluster_id = min doc_id in the component) — the step that turns
    * pairwise similarity into dedup groups (keep `doc_id == cluster_id`
    * as the canonical copy, drop the rest).
    *
    * Each round does (a) min-label over neighbors and (b) POINTER
    * JUMPING — every node also adopts its current label's label —
    * so label distance halves per round and convergence is
    * O(log diameter) rounds, not O(diameter) (a 10⁶-long near-dup
    * chain converges in ~20 rounds; plain propagation would need 10⁶
    * rounds / silently stop at maxIter). Three keyed shuffles of the
    * tiny label table per round; deterministic fixpoint = min doc_id
    * per component regardless of execution order.
    *
    * Every round materializes its labels ([[graft.Materialize.once]]):
    * iterative plans must TRUNCATE lineage, not just cache it —
    * `persist` keeps the full logical plan, so round i's plan would
    * embed ~4 copies of round i-1's and analysis cost grows
    * exponentially (measured: a 200-node chain never finished). A
    * cluster deployment with flaky executors sets
    * `spark.graft.materialize=reliable` and every round checkpoints to
    * the replicated dir instead (same lineage truncation, survives
    * executor loss).
    */
  def clusters(pairs: DataFrame, maxIter: Int = 40): DataFrame = {
    val spark = pairs.sparkSession
    // materialize the pair list ONCE before mirroring it: unioning two
    // selects of the raw `pairs` plan would execute the (expensive)
    // upstream similarity join twice inside the checkpoint job —
    // measured as most of dedup_cluster's 426s in BENCH_r02. The pair
    // count rides the checkpoint job as an observed metric instead of
    // a second action (r19-opt: one job, not two).
    val (p0, nPairs) = graft.Materialize.onceCounted(
      pairs.select(col("doc_a"), col("doc_b")), count(lit(1)))
    val edges0 = p0
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(p0.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // per-round parallelism sized to the edge list: a near-dup graph of
    // a few thousand edges shouldn't pay 32 shuffle tasks × 3 joins ×
    // O(log n) rounds of fixed overhead; a 10⁹-edge graph keeps the
    // session's full parallelism (~100k edges per task)
    val nEdges = nPairs * 2
    val parts = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong, nEdges / 100000 + 1)).toInt
    val edges = graft.Materialize.once(edges0.repartition(parts, col("dst")))
    var labels = graft.Materialize.once(
      edges.select(col("src").as("doc_id")).distinct()
        .withColumn("cluster_id", col("doc_id")))
    // local-mode blocks are only reclaimed when the ContextCleaner
    // notices the RDD got GC'd — in a long-lived session the per-round
    // checkpoints of MANY clusters() calls pile up in the block manager
    // and strangle execution memory (measured: the same composite query
    // 5.9s early in a 51-query JVM, 54s late). Free each round's blocks
    // deterministically the moment the next round is materialized.
    graft.Materialize.free(p0) // edges is materialized; p0's blocks are dead weight
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // ONE fused checkpoint job per round (r19-opt; was 3 jobs —
      // step1 ckpt + jump ckpt + convergence count): (a) POINTER JUMP
      // first — each node adopts its label's label. The jump reads
      // only the materialized label table, so its self-join is
      // node-scale and cheap to recompute per consumer branch (two
      // block re-reads), where the old min-then-jump order had to
      // checkpoint the edge-scale neighbor-min before jumping.
      val jumped = labels
        .join(labels.select(col("doc_id").as("cluster_id"),
          col("cluster_id").as("parent")), Seq("cluster_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("old"),
          least(col("cluster_id"),
            coalesce(col("parent"), col("cluster_id"))).as("mid"))
      // (b) adopt the min label among self and jumped neighbors; the
      // convergence count rides the checkpoint as an observed metric.
      // Jump-then-min converges to the same unique fixpoint (labels
      // only decrease, min doc_id per component is the only stable
      // point — DedupSpec pins chain convergence), in the same
      // O(log diameter) rounds.
      val neighborMin = edges
        .join(jumped.select(col("doc_id").as("dst"), col("mid").as("nbr")), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("nbr")).as("nbr_min"))
      val (updated, delta) = graft.Materialize.onceCounted(
        jumped.join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"), col("old"),
            least(col("mid"), coalesce(col("nbr_min"), col("mid"))).as("cluster_id")),
        count(when(col("cluster_id") =!= col("old"), 1)))
      changed = delta
      // `updated` is eagerly materialized (self-contained), so the
      // previous round's blocks can go now
      graft.Materialize.free(labels)
      labels = updated.select(col("doc_id"), col("cluster_id"))
      iter += 1
    }
    graft.Materialize.free(edges)
    labels.select(col("doc_id"), col("cluster_id"))
  }

  // -------------------------------------------------- 28: n-gram Jaccard
  /** THE shingle-set frame every jaccard/containment path materializes
    * — one definition, exposed private[graft] so the plan audit can
    * assert column pruning on the operator's OWN projection (a
    * widened projection here would silently defeat pruning in every
    * checkpoint job; PlanSpec pins it — r18 ADVICE). */
  private[graft] def jaccardSets(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), shingles(col("text"), k).as("sh"))

  /** Posting rows of a materialized sets frame with the join key
    * XXHASH64-COMPRESSED (r19-opt, guide §2.3 shuffle-bytes): the
    * shingle is a k-word string, but every downstream consumer (df
    * aggregate, rank window, candidate self-join) only needs EQUALITY
    * and a shared total order — an 8-byte long key shuffles a fraction
    * of the string's bytes and hash-joins without string compares.
    * Lossless: the AllPairs/PPJoin prefix theorem holds for ANY total
    * order shared by both sides, and a (vanishingly improbable) 64-bit
    * collision merges two shingles into one join token — candidates
    * only GROW (the exact string-set verify removes them), never
    * shrink, because a common shingle's hash is still common. */
  private def hashedPostings(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("s0"))
      .select(col("doc_id"), col("n_sh"), xxhash64(col("s0")).as("s"))

  /** (s, df): the document frequency of each posting key — the global
    * (df, s) shingle order the prefix rank sorts by. A hash aggregate,
    * not a count window: a window partitioned by shingle was measured
    * SLOWER here (it sorts every posting by key, the aggregate hashes
    * them). */
  private def postingDfs(postings: DataFrame): DataFrame =
    postings.groupBy(col("s")).agg(count(lit(1)).as("df"))

  /** THE AllPairs/PPJoin prefix rank: `postings` ⋈ `dfs`, then `rk` =
    * each posting's 1-based position in its doc's shingle list under
    * the global (df, s) order. With `frozen`, `dfs` is a PUBLISHED
    * order that may miss fresh shingles: they take df 0 (any fixed
    * total order keeps the prefix theorem lossless). The repartition
    * pins the rank window's clustering at a fixed width (the window
    * reuses the exchange), dodging the AQE-coalesce trap.
    *
    * Over an un-materialized `postings` source the explode is
    * referenced twice (the df aggregate and this join) and exchange
    * reuse does not fire across join branches, so callers rank over a
    * MATERIALIZED sets frame — un-truncated, the corpus scan + shingle
    * kernel ran twice per prefix build (r18-opt). */
  private def rankPostings(postings: DataFrame, dfs: DataFrame, parts: Int,
      frozen: Boolean = false): DataFrame = {
    val withDf =
      if (frozen) postings.join(dfs, Seq("s"), "left")
        .withColumn("df", coalesce(col("df"), lit(0L)))
      else postings.join(dfs, "s")
    withDf.repartition(parts, col("doc_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
  }

  /** The prefix cutoff on ranked postings: a doc's prefix is its
    * |d|−⌈t|d|⌉+1 rarest shingles. */
  private def inPrefix(threshold: Double): Column =
    col("rk") <= col("n_sh") - ceil(col("n_sh") * threshold) + 1

  /** The prefix table (s, doc_id, n_sh, rk) of [[rankPostings]]. */
  private def prefixOf(postings: DataFrame, dfs: DataFrame, threshold: Double,
      parts: Int, frozen: Boolean = false): DataFrame =
    rankPostings(postings, dfs, parts, frozen).where(inPrefix(threshold))
      .select(col("s"), col("doc_id"), col("n_sh"), col("rk"))

  /** The prefix table of a MATERIALIZED `sets` frame, ranked under its
    * own (df, s) order. */
  private def jaccardPrefixOf(sets: DataFrame, threshold: Double,
      parts: Int): DataFrame = {
    val postings = hashedPostings(sets)
    prefixOf(postings, postingDfs(postings), threshold, parts)
  }

  /** One side of a prefix join: (s, doc_x, n_x, rk_x). */
  private def prefixSide(prefix: DataFrame, x: String): DataFrame =
    prefix.select(col("s"), col("doc_id").as(s"doc_$x"),
      col("n_sh").as(s"n_$x"), col("rk").as(s"rk_$x"))

  /** `pairOk` plus the candidate bounds on a prefix-join row of sides
    * a and b ([[prefixSide]]):
    *  - size filter: t|b| <= |a| <= |b|/t is necessary for J >= t;
    *  - PPJoin POSITIONAL filter (with `positional`): rk is the shared
    *    shingle's 1-based position in each doc's full (df, s)-sorted
    *    list, so the overlap can be at most 1 + min(n_a - rk_a,
    *    n_b - rk_b) — every other common shingle sits strictly after
    *    it on at least one side when this row's shingle is the pair's
    *    FIRST common one. J >= t needs overlap >= t(n_a+n_b)/(1+t); a
    *    pair survives iff SOME generating row passes (rows are per
    *    shared prefix shingle, dedup comes after), and for J >= t the
    *    first common shingle lies in BOTH prefixes and always passes —
    *    so the filter is lossless while pruning the candidates hot
    *    shingles generate at positions too deep for the threshold.
    *    Integer bound vs real target compared in cross-multiplied form
    *    (no ceil), 1e-9 slack for fp safety. */
  private def prefixBound(pairOk: Column, threshold: Double,
      positional: Boolean = true): Column = {
    val sizeOk = col("n_a") * threshold <= col("n_b") &&
      col("n_b") * threshold <= col("n_a")
    val posOk =
      if (!positional) lit(true)
      else (lit(1) + least(col("n_a") - col("rk_a"), col("n_b") - col("rk_b")))
        .cast("double") * (1.0 + threshold) >=
        (col("n_a") + col("n_b")).cast("double") * threshold - 1e-9
    pairOk && sizeOk && posOk
  }

  /** Candidate (doc_a, doc_b) pairs from the prefix index, deduped —
    * the pre-verify half of [[jaccardPairs]], exposed so specs can
    * measure the candidate count with/without the positional filter.
    */
  private[graft] def jaccardCandidates(docs: DataFrame, k: Int = 2,
      threshold: Double = 0.5, positional: Boolean = true): DataFrame =
    jaccardCandidatesFromSets(
      graft.Materialize.once(
        jaccardSets(docs, k)),
      threshold, positional)

  /** The prefix SELF-join of a MATERIALIZED `sets` frame. */
  private def jaccardCandidatesFromSets(sets: DataFrame, threshold: Double,
      positional: Boolean): DataFrame = {
    val parts = sets.sparkSession.sessionState.conf.numShufflePartitions
    // materialized ONCE: the prefix table feeds BOTH self-join sides —
    // un-truncated, the whole postings/df/rank chain re-ran per side
    // (the multi-consumer recompute rule; 6 parquet scans measured in
    // the r18-opt dedup_jaccard plan before this change).
    val prefix = graft.Materialize.once(
      jaccardPrefixOf(sets, threshold, parts))
    selfCandidates(prefix, threshold, parts, positional)
  }

  /** The prefix SELF-join over one prefix table (s, doc_id, n_sh, rk):
    * [[prefixBound]] with `doc_a < doc_b`, so each pair is generated
    * once per shared prefix shingle, then deduped. */
  private def selfCandidates(prefix: DataFrame, threshold: Double, parts: Int,
      positional: Boolean = true): DataFrame =
    prefixSide(prefix, "a").join(prefixSide(prefix, "b"), Seq("s"))
      .where(prefixBound(col("doc_a") < col("doc_b"), threshold, positional))
      .select(col("doc_a"), col("doc_b"))
      .repartition(parts, col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

  /** Exact n-gram Jaccard similarity join with PREFIX + POSITIONAL
    * FILTERING (the full PPJoin candidate rule): a pair with
    * Jaccard >= t must share at least one shingle among each side's
    * prefix — its `|s| - ceil(t*|s|) + 1` globally-rarest shingles.
    * Only prefix postings are joined, so hot (high-document-frequency)
    * shingles never generate candidate pairs: pair work is driven by
    * RARE shingles, which is what makes this survive a corpus where
    * every document shares the common vocabulary. On top of the prefix,
    * PPJoin's positional upper bound (see [[prefixBound]]) prunes
    * collisions that happen too deep in both sorted lists to ever reach
    * the threshold — lossless, and nearly free since the prefix rank is
    * already computed. Exact Jaccard is then verified on candidates
    * only, via the full shingle sets.
    *
    * One shuffle on the shingle (candidates), one on doc_id (verify
    * re-attach). Lossless for `jaccard >= threshold`.
    *
    * Two deliberate non-defaults, both found by profiling sf0.1
    * (BENCH_r02 recorded 62s; these bring it back to seconds):
    * - candidate pairs are repartitioned to a FIXED partition count
    *   before dedup/verify. The pair rows are tiny (two ids), so AQE's
    *   byte-based coalescing squeezes them into one partition — and then
    *   the per-pair verify work (the expensive part) runs on one core.
    *   Work-per-byte here is huge, so bytes are the wrong signal; the
    *   explicit repartition keeps verify at full parallelism and is
    *   what you'd want at 100 TB anyway (candidate volume >> 64 MB).
    * - intersection size is a native O(n+m) kernel
    *   ([[graft.expressions.Kernels.intersectCount]]), not
    *   array_intersect: the built-in does O(n·m) non-codegen pairwise
    *   comparisons for string arrays, and the pushed-down jaccard filter
    *   made the optimizer evaluate it up to 3× per pair.
    */
  def jaccardPairs(docs: DataFrame, k: Int = 2, threshold: Double = 0.5): DataFrame = {
    // ONE scan + ONE shingle pass: the set table feeds the prefix build
    // plus both exact-verify endpoint joins (three consumers; the
    // shingle kernel re-ran per consumer un-materialized — r18-opt).
    val sets = graft.Materialize.once(
      jaccardSets(docs, k))
    verifyJaccard(jaccardCandidatesFromSets(sets, threshold, positional = true),
      sets, sets, threshold)
  }

  // -------------------- 123: incremental near-dup cluster maintenance
  /** Exact jaccard pairs TOUCHING the batch: the prefix join's A-side
    * is restricted to batch-doc prefixes while the B-side keeps the
    * full union. Every J ≥ t pair with ≥ 1 batch endpoint shares a
    * prefix shingle under the union's global (df, s) order (the
    * AllPairs prefix theorem — and for such a pair the FIRST common
    * shingle lies in both prefixes, so the PPJoin positional filter
    * stays lossless), while corpus × corpus pairs — already encoded
    * in the published labels — generate NO candidates. Candidate and
    * verify work is Σ_{s ∈ batch prefixes} df(s): batch-bounded. The
    * one corpus-sized piece is the (linear, join-free) posting/df
    * scan that builds the prefix ranks; at 100 TB that index persists
    * in the lake — [[publishJaccardLake]] owns it at publish time and
    * [[jaccardPairsTouchingLake]] probes it with only a batch-sized
    * rank per ingest. */
  private[graft] def jaccardPairsTouching(unionDocs: DataFrame,
      batchIds: DataFrame, k: Int, threshold: Double): DataFrame = {
    val sets = graft.Materialize.once(
      jaccardSets(unionDocs, k))
    val parts = sets.sparkSession.sessionState.conf.numShufflePartitions
    // prefix materialized ONCE for the same two-consumer reason as
    // jaccardCandidatesFromSets (the batch-restricted A side and the
    // full B side both read it)
    val prefix = graft.Materialize.once(
      jaccardPrefixOf(sets, threshold, parts))
    val cand = prefixCandidates(
      prefix.join(batchIds.select(col("doc_id")), Seq("doc_id"), "left_semi"),
      prefix, threshold, parts)
    verifyJaccard(cand, sets, sets, threshold)
  }

  /** The TOUCHING prefix join over two prefix tables (s, doc_id, n_sh,
    * rk) that were ranked under ONE shared global shingle order: side a
    * is the probing (batch) prefix, side b the full one. Applies
    * [[prefixBound]], normalizes each pair to doc_a < doc_b (a batch
    * doc may sit on either side of a pair) and dedups. Lossless given
    * the shared order: for a J ≥ t pair the FIRST common shingle under
    * that order lies in both prefixes, and its row passes both bounds.
    * Self-joins use [[selfCandidates]]: this shape would emit every
    * self pair twice before the dedup shuffle. */
  private def prefixCandidates(a: DataFrame, b: DataFrame,
      threshold: Double, parts: Int): DataFrame =
    prefixSide(a, "a").join(prefixSide(b, "b"), Seq("s"))
      .where(prefixBound(col("doc_a") =!= col("doc_b"), threshold))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .repartition(parts, col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

  /** THE exact-Jaccard verify of candidate pairs (idA, idB): attach
    * each endpoint's shingle set from `setsA` / `setsB` (both (doc_id,
    * sh)), return (idA, idB, jaccard ≥ threshold) with jaccard =
    * |A∩B| / |A∪B| rounded to 6 places. Candidates only ever price
    * this — both joins are candidate-bounded. */
  private def verifyJaccard(cand: DataFrame, setsA: DataFrame,
      setsB: DataFrame, threshold: Double,
      idA: String = "doc_a", idB: String = "doc_b"): DataFrame = {
    val inter = graft.expressions.native
      .intersectCount(col("sh_a"), col("sh_b")).cast("double")
    cand.join(setsA.select(col("doc_id").as(idA), col("sh").as("sh_a")), idA)
      .join(setsB.select(col("doc_id").as(idB), col("sh").as("sh_b")), idB)
      .withColumn("inter", inter)
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .select(col(idA), col(idB),
        round(col("inter") / col("uni"), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  // ------------------- 123b: lake-persisted Jaccard prefix index
  /** Publish the Jaccard prefix index of a corpus as ONE atomic
    * versioned group (the [[publishMinhashLake]] precedent, upgraded
    * to [[graft.sources.StormSinks.writeVersionedGroup]] because the
    * three tables must stay mutually consistent — prefix ranks are
    * meaningless against another version's df order):
    *
    *   `dfs`    — (s, df): the corpus document frequencies, i.e. the
    *              FROZEN global (df, s) shingle order every later
    *              probe ranks under.
    *   `prefix` — (s, doc_id, n_sh, rk): each corpus doc's AllPairs
    *              prefix rows (rarest |d|−⌈t|d|⌉+1 shingles) with
    *              their positional rank — the only table the
    *              candidate join reads.
    *   `sets`   — (doc_id, sh): exact-verify shingle sets; only
    *              candidate doc_ids' rows flow past its scan.
    *
    * This is the persistence path [[jaccardPairsTouching]]'s scaladoc
    * promises: the corpus-sized posting/df aggregation + rank window
    * runs HERE, at publish time (nightly, with compaction), and every
    * per-ingest probe ([[jaccardPairsTouchingLake]]) pays only a
    * batch-sized rank plus columnar scans of the published tables.
    * `k`/`threshold` are baked into the shingles and cutoffs — probe
    * with the same values (same contract as the minhash lake's
    * bands/rows). */
  def publishJaccardLake(corpus: DataFrame, dir: String, k: Int = 2,
      threshold: Double = 0.5): Unit = {
    val spark = corpus.sparkSession
    val sets = graft.Materialize.once(
      jaccardSets(corpus, k))
    try {
      val parts = spark.sessionState.conf.numShufflePartitions
      // xxhash64-compressed posting keys — the published dfs/prefix
      // tables carry the LONG key, and every probe ranks fresh docs
      // under the same hashed order (see [[hashedPostings]]; r19-opt)
      val postings = hashedPostings(sets)
      // dfs feeds BOTH the published table and the rank join below —
      // materialize once (the multi-consumer recompute class); freed
      // whether or not the publish lands
      val dfs = graft.Materialize.once(postingDfs(postings))
      try {
        StormSinks.writeVersionedGroup(spark, dir, Seq("dfs" -> dfs,
          "prefix" -> prefixOf(postings, dfs, threshold, parts), "sets" -> sets))
        ()
      } finally graft.Materialize.free(dfs)
    } finally graft.Materialize.free(sets)
  }

  /** FULL exact-Jaccard pair set derived from a [[publishJaccardLake]]
    * index — the publisher-side complement of the touching probe: the
    * batch CC that seeds the cluster lake builds its pairs from the
    * index it just published instead of ranking the corpus a SECOND
    * time (the prefix self-join reads the published ranks; verify
    * reads the published sets). `threshold` must equal the publish
    * threshold (the prefix cutoffs bake it in — same contract as
    * k/bands on the minhash lake). Row-identical to
    * `jaccardPairs(corpus)` (DedupSpec pins it). */
  def jaccardPairsLake(spark: org.apache.spark.sql.SparkSession,
      dir: String, threshold: Double = 0.5): DataFrame = {
    val ver = StormSinks.currentVersionName(spark, dir)
    val parts = spark.sessionState.conf.numShufflePartitions
    val prefix = StormSinks.readGroupTableAt(spark, dir, ver, "prefix")
    val sets = StormSinks.readGroupTableAt(spark, dir, ver, "sets")
    verifyJaccard(selfCandidates(prefix, threshold, parts), sets, sets, threshold)
  }

  /** [[jaccardPairsTouching]] against a [[publishJaccardLake]] index:
    * exact J ≥ t pairs with ≥ 1 batch endpoint, WITHOUT the
    * corpus-sized posting/df rank — the only window runs over
    * `freshDocs` (the docs not yet in the published index; must
    * include the batch, plus anything ingested since the last
    * publish), ranked under the index's FROZEN (df, s) order (unseen
    * shingles take df 0 — any fixed total order keeps the prefix
    * theorem lossless; df-ascending is only the efficiency
    * heuristic, and it degrades gracefully as true dfs drift until
    * the next republish re-freezes them). Corpus prefixes and verify
    * sets come from the published columnar tables; the candidate
    * semi-join against batch ids broadcasts, and verify joins are
    * candidate-bounded. Fresh sets take precedence over lake sets in
    * verify, so a replayed already-republished batch still verifies
    * against its own (identical) sets. Row-identical to the
    * in-session [[jaccardPairsTouching]] over the same union — both
    * are lossless filters ahead of the same exact verify (DedupSpec
    * pins it). */
  def jaccardPairsTouchingLake(spark: org.apache.spark.sql.SparkSession,
      dir: String, freshDocs: DataFrame, batchIds: DataFrame,
      k: Int = 2, threshold: Double = 0.5): DataFrame =
    jaccardPairsTouchingLakeAt(dir, StormSinks.currentVersionName(spark, dir),
      freshDocs, batchIds, k, threshold)

  /** [[jaccardPairsTouchingLake]] against an already-RESOLVED version
    * `verName` of `dir` — callers composing several reads of the same
    * index (incremental clustering) resolve the pointer once for a
    * consistent snapshot. */
  private[graft] def jaccardPairsTouchingLakeAt(dir: String, verName: String,
      freshDocs: DataFrame, batchIds: DataFrame,
      k: Int, threshold: Double): DataFrame = {
    val spark = freshDocs.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val dfsL = StormSinks.readGroupTableAt(spark, dir, verName, "dfs")
    val prefixL = StormSinks.readGroupTableAt(spark, dir, verName, "prefix")
    val setsL = StormSinks.readGroupTableAt(spark, dir, verName, "sets")
    // fresh-set count rides the checkpoint job as an observed metric
    // (the broadcast-vs-shuffle dial below) instead of a second action
    val (freshSets, freshN) = graft.Materialize.onceCounted(
      jaccardSets(freshDocs, k)
        .dropDuplicates("doc_id"), count(lit(1)))
    // The fresh side grows until the next republish, so a forced
    // broadcast of its ids is a publish-cadence time bomb: neglect the
    // cadence long enough and every executor receives a near-corpus-
    // sized id set. Dial: broadcast while the fresh set is small (the
    // normal cadence — fresh is a few batches), plain shuffle
    // anti-join beyond the threshold (HotKeyStressSpec pins the two
    // paths row-identical and the over-threshold path hint-free).
    val freshIds = freshSets.select(col("doc_id"))
    val antiFresh: DataFrame => DataFrame =
      if (freshN <= freshBroadcastMax(spark))
        df => df.join(broadcast(freshIds), Seq("doc_id"), "left_anti")
      else
        df => df.join(freshIds, Seq("doc_id"), "left_anti")
    // the fresh-side rank (the ONLY window in a probe — batch-sized)
    // feeds both candidate branches below; materialize once so it
    // runs once and the probe plan itself carries zero windows. Its
    // hashed keys match the published index's (see [[hashedPostings]])
    val freshPrefix = graft.Materialize.once(
      prefixOf(hashedPostings(freshSets), dfsL, threshold, parts, frozen = true))
    // fresh docs SHADOW the lake on overlap (replayed batch): drop the
    // lake's rows for fresh ids so prefixes and sets stay one-per-doc
    val allPrefix = antiFresh(
      prefixL.select(col("s"), col("doc_id"), col("n_sh"), col("rk")))
      .unionByName(freshPrefix)
    val cand = prefixCandidates(
      allPrefix.join(batchIds.select(col("doc_id")), Seq("doc_id"), "left_semi"),
      allPrefix, threshold, parts)
    val setsAll = antiFresh(setsL.select(col("doc_id"), col("sh")))
      .unionByName(freshSets)
    verifyJaccard(cand, setsAll, setsAll, threshold)
  }

  /** Incremental cluster maintenance — the per-ingest complement of
    * [[clusters]]: given the PUBLISHED corpus labels (doc_id →
    * cluster_id = the component's min member id, [[clusters]]'s
    * contract) and a new batch, produce the UNION's complete label
    * table without re-running connected components over the corpus.
    *
    * Method: only batch-touching pairs are generated
    * ([[jaccardPairsTouching]]); corpus endpoints are CONTRACTED to
    * their published labels (the quotient graph — contraction
    * preserves connectivity), CC runs on that batch-sized graph, and
    * corpus labels re-map through the quotient result. Min-labels
    * COMPOSE: a published label is its component's min member id, so
    * the quotient component's min over {batch ids, member labels}
    * equals the full recompute's min over all member ids — the
    * output is IDENTICAL to clusters(jaccardPairs(union)), which is
    * exactly what the dedup_cluster_inc oracle checks (DuckDB
    * recomputes from scratch; the hash compares the incremental
    * algebra, not a replay).
    *
    * Scale: per-ingest CC cost is quotient-graph-sized (batch docs +
    * touched clusters), never corpus-sized — the piece that makes
    * nightly-batch CC maintainable under continuous ingest. Output:
    * (doc_id, cluster_id) for EVERY union doc, singletons
    * self-labeled. */
  def incrementalClusters(corpusDocs: DataFrame, corpusLabels: DataFrame,
      batchDocs: DataFrame, k: Int = 2, threshold: Double = 0.5): DataFrame = {
    val batch = graft.Materialize.once(byId(batchDocs))
    val bIds = batch.select(col("doc_id"))
    val (corpusOnly, union) = besideBatch(corpusDocs, batch)
    quotientMerge(jaccardPairsTouching(union, bIds, k, threshold),
      corpusOnly.select(col("doc_id")), corpusLabels, bIds)
  }

  /** An incremental merge's batch, one row per id: (doc_id, text).
    * Callers materialize it (it feeds the prelude, the probe and the
    * label merge). */
  private def byId(batchDocs: DataFrame): DataFrame =
    batchDocs.select(col("doc_id"), col("text")).dropDuplicates("doc_id")

  /** THE overlap-safe union prelude of every incremental merge:
    * `side`'s (doc_id, text) rows minus the ids of `batch` (a
    * materialized [[byId]] frame), and that plus the batch. An
    * at-least-once ingest can replay a batch whose docs ALREADY landed
    * on the corpus side (crash between the docs and labels publishes).
    * A raw union would then hold duplicate doc_id rows, whose
    * duplicated postings inflate df and the n_sh-based prefix cutoff —
    * breaking prefix-filter completeness (silently missed merges) —
    * and would emit duplicate label rows. So the batch is
    * authoritative: the other side anti-joins its ids (batch ids are
    * micro-batch-sized → broadcast, the corpus stays un-shuffled), and
    * the two sides are disjoint by construction. Replaying a
    * fully-committed batch recomputes the identical merge
    * (deterministic), so republishing is a no-op — the
    * checkpoint-idempotence CorpusStreamSpec pins. */
  private def besideBatch(side: DataFrame, batch: DataFrame): (DataFrame, DataFrame) = {
    val rest = side.select(col("doc_id"), col("text"))
      .join(broadcast(batch.select(col("doc_id"))), Seq("doc_id"), "left_anti")
    (rest, rest.unionByName(batch))
  }

  /** [[incrementalClusters]] probing a [[publishJaccardLake]] prefix
    * index instead of ranking the union in-session — the per-ingest
    * shape with NO corpus-sized aggregation or window at all: pairs
    * from [[jaccardPairsTouchingLake]] (batch-sized rank + columnar
    * index scans), then the same quotient-CC label merge. `priorFresh`
    * = docs ingested since the index was last published, EXCLUDING
    * this batch (empty right after a republish); they are part of the
    * corpus for labeling but missing from the index, so the probe
    * ranks them alongside the batch. Output is row-identical to
    * [[incrementalClusters]] over (indexed ∪ priorFresh, labels,
    * batch) — DedupSpec pins it, and the dedup_cluster_lake oracle
    * proves the whole composition equals a from-scratch CC. */
  def incrementalClustersLake(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, corpusLabels: DataFrame, priorFresh: DataFrame,
      batchDocs: DataFrame, k: Int = 2, threshold: Double = 0.5): DataFrame =
    // one pointer resolution = one consistent index snapshot
    incrementalClustersLakeAt(indexDir,
      StormSinks.currentVersionName(spark, indexDir),
      corpusLabels, priorFresh, batchDocs, k, threshold)

  /** [[incrementalClustersLake]] against an already-RESOLVED index
    * version `verName` of `dir` (streaming callers resolve per
    * micro-batch). */
  private[graft] def incrementalClustersLakeAt(dir: String, verName: String,
      corpusLabels: DataFrame, priorFresh: DataFrame,
      batchDocs: DataFrame, k: Int = 2, threshold: Double = 0.5): DataFrame = {
    val spark = batchDocs.sparkSession
    val batch = graft.Materialize.once(byId(batchDocs))
    val bIds = batch.select(col("doc_id"))
    val (prior, fresh) = besideBatch(priorFresh, batch)
    val pairs = jaccardPairsTouchingLakeAt(dir, verName, fresh, bIds, k, threshold)
    // corpus side for labeling = indexed docs + prior fresh, each id
    // once: the batch anti-joins out (a re-delivered batch may sit in
    // a republished index), and prior ids anti-join the INDEX side
    // too — after an index republish that indexed the prior docs but
    // before the maintainer's fresh-reset landed, prior ⊆ indexed and
    // a plain union would emit duplicate label rows (fresh shadows
    // the lake in the probe for the same reason)
    val lakeIds = StormSinks.readGroupTableAt(spark, dir, verName, "sets")
      .select(col("doc_id"))
      .join(broadcast(bIds), Seq("doc_id"), "left_anti")
      .join(prior.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val corpusIds = lakeIds.unionByName(prior.select(col("doc_id")))
    quotientMerge(pairs, corpusIds, corpusLabels, bIds)
  }

  /** The label-merge core shared by [[incrementalClusters]] and
    * [[incrementalClustersLake]]: contract corpus endpoints of the
    * batch-touching pairs to their published labels (a corpus doc the
    * publisher never labeled — no prior edges — is its own label;
    * batch endpoints stay themselves), run CC on the batch-sized
    * quotient graph, and remap every corpus + batch doc. The
    * contraction map is RESTRICTED to corpus-side ids: on a replayed
    * batch the published labels already carry entries for the batch
    * docs, and contracting a batch endpoint to its committed label
    * would make the quotient run over labels while the batch side
    * looks nodes up by raw doc_id — the replay would silently relabel
    * merged batch docs to themselves. With the restriction, a replay
    * reproduces the committed labels exactly (min-labels compose). */
  private def quotientMerge(newPairs: DataFrame, corpusIds: DataFrame,
      corpusLabels: DataFrame, batchIds: DataFrame): DataFrame = {
    val lbl = labelsOutside(corpusLabels, batchIds)
    val q = quotientOf(newPairs, lbl)
    val corpusSide = corpusIds
      .join(lbl, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("lab0"))
      .join(q.withColumnRenamed("node", "lab0"), Seq("lab0"), "left")
      .select(col("doc_id"), coalesce(col("qlab"), col("lab0")).as("cluster_id"))
    val batchSide = batchIds
      .join(q.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("qlab"), col("doc_id")).as("cluster_id"))
    corpusSide.unionByName(batchSide)
  }

  /** The published labels outside the batch — the contraction map
    * (restricted to corpus-side ids; see [[quotientMerge]]). */
  private def labelsOutside(corpusLabels: DataFrame, batchIds: DataFrame): DataFrame =
    corpusLabels.select(col("doc_id"), col("cluster_id"))
      .join(broadcast(batchIds), Seq("doc_id"), "left_anti")

  /** THE quotient CC of [[quotientMerge]] and [[quotientMergeDelta]]:
    * each endpoint of `pairs` with a label in `lbl` contracts to it
    * (others stay themselves), self-loops drop, and [[clusters]] runs
    * on that batch-sized graph. Returns (node, qlab). */
  private def quotientOf(pairs: DataFrame, lbl: DataFrame): DataFrame = {
    val e = pairs
      .join(lbl.select(col("doc_id").as("doc_a"), col("cluster_id").as("ca")),
        Seq("doc_a"), "left")
      .join(lbl.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("ca"), col("doc_a")).as("doc_a"),
        coalesce(col("cb"), col("doc_b")).as("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
    clusters(e).select(col("doc_id").as("node"), col("cluster_id").as("qlab"))
  }

  /** CHANGED-ROWS-ONLY [[incrementalClusters]] — the delta-segment
    * streaming face's label commit: returns exactly the label rows
    * that differ from (or are absent in) `corpusLabels`, i.e. corpus
    * docs whose cluster the quotient merge remapped plus every batch
    * doc. Upserting the delta into `corpusLabels` (latest wins per
    * doc_id — [[graft.sources.StormSinks.readGroupTableKeyedAt]])
    * reproduces [[incrementalClusters]]' full output row-for-row
    * (DedupSpec pins it).
    *
    * CONTRACT: `corpusLabels` must cover EVERY corpus doc (the
    * [[graft.streaming.CorpusStream.publishClusterLake]] full-coverage
    * invariant — singletons carry explicit self-label rows). Coverage
    * is what makes the changed set computable WITHOUT a corpus-keyed
    * shuffle: a remapped corpus doc is findable through its label row
    * (cluster_id ∈ quotient nodes), so the only corpus-sized work is
    * broadcast-hash SCANS of docs and labels — the
    * corpusIds ⋈ labels exchange [[quotientMerge]] pays to emit its
    * full output disappears along with the O(corpus) write. */
  def incrementalClustersDelta(corpusDocs: DataFrame, corpusLabels: DataFrame,
      batchDocs: DataFrame, k: Int = 2, threshold: Double = 0.5): DataFrame = {
    val batch = graft.Materialize.once(byId(batchDocs))
    val bIds = batch.select(col("doc_id"))
    val (_, union) = besideBatch(corpusDocs, batch)
    quotientMergeDelta(jaccardPairsTouching(union, bIds, k, threshold),
      corpusLabels, bIds)
  }

  /** [[incrementalClustersDelta]] against a RESOLVED
    * [[publishJaccardLake]] index version `verName` of `dir` (the
    * [[incrementalClustersLakeAt]] probe shape): batch-and-fresh-sized
    * ranking, columnar index scans, changed-labels-only output. Same
    * full-coverage contract on `corpusLabels`. */
  private[graft] def incrementalClustersLakeAtDelta(dir: String, verName: String,
      corpusLabels: DataFrame, priorFresh: DataFrame,
      batchDocs: DataFrame, k: Int = 2, threshold: Double = 0.5): DataFrame = {
    val batch = graft.Materialize.once(byId(batchDocs))
    val bIds = batch.select(col("doc_id"))
    val (_, fresh) = besideBatch(priorFresh, batch)
    quotientMergeDelta(
      jaccardPairsTouchingLakeAt(dir, verName, fresh, bIds, k, threshold),
      corpusLabels, bIds)
  }

  /** The changed-rows core of [[incrementalClustersDelta]]: same
    * contraction + quotient CC as [[quotientMerge]], but instead of
    * remapping every corpus doc it emits only
    *  (a) corpus label rows whose cluster_id is a quotient node that
    *      CC moved (broadcast-hash join of labels against the
    *      batch-pair-sized quotient — a labels scan, no shuffle),
    *  (b) UNLABELED corpus endpoints of the new pairs that the
    *      quotient moved — a lake published under the pre-coverage
    *      layout (labels = paired docs only) has them, and dropping
    *      their updates would silently diverge from a full recompute
    *      (the endpoint set is batch-pair-bounded, and labeled-vs-not
    *      resolves with ONE more broadcast-semi labels scan), and
    *  (c) one row per batch doc (new or replayed — identical values
    *      on replay, so the latest-wins collapse is a no-op).
    * With the publishers' full-coverage invariant (b) is empty; it
    * exists so a legacy partial-labels lake stays exactly
    * effective-label-equivalent to [[quotientMerge]]. */
  private def quotientMergeDelta(newPairs: DataFrame, corpusLabels: DataFrame,
      batchIds: DataFrame): DataFrame = {
    // the pair probe is the expensive input and now has TWO consumers
    // (the contraction and the endpoint set) — materialize once
    val pairs = graft.Materialize.once(newPairs)
    val lbl = labelsOutside(corpusLabels, batchIds)
    val q = quotientOf(pairs, lbl)
    val relabeled = lbl
      .join(broadcast(q.withColumnRenamed("node", "cluster_id")), Seq("cluster_id"))
      .where(col("qlab") =!= col("cluster_id"))
      .select(col("doc_id"), col("qlab").as("cluster_id"))
    // (b): corpus endpoints with NO label row entered the contraction
    // as their raw doc_id — if the quotient moved that node, the doc
    // needs an explicit delta row (batch-pair-bounded set; both joins
    // broadcast the small side, the labels side is a semi SCAN)
    val corpusEndpoints = pairs
      .select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .dropDuplicates("doc_id")
      .join(broadcast(batchIds), Seq("doc_id"), "left_anti")
    val labeledEp = lbl
      .join(broadcast(corpusEndpoints), Seq("doc_id"), "left_semi")
      .select(col("doc_id"))
    val selfRemap = corpusEndpoints
      .join(broadcast(labeledEp), Seq("doc_id"), "left_anti")
      .join(broadcast(q.withColumnRenamed("node", "doc_id")), Seq("doc_id"))
      .where(col("qlab") =!= col("doc_id"))
      .select(col("doc_id"), col("qlab").as("cluster_id"))
    val batchSide = batchIds
      .join(broadcast(q.withColumnRenamed("node", "doc_id")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("qlab"), col("doc_id")).as("cluster_id"))
    relabeled.unionByName(selfRemap).unionByName(batchSide)
  }

  // ------------------------------------------ 93: asymmetric containment
  /** Asymmetric containment join (quote / inclusion detection):
    * pairs with C(A,B) = |A∩B| / |A| ≥ threshold — "A is mostly
    * inside B". Jaccard misses these when B is much larger (a quoted
    * paragraph inside a long page has tiny Jaccard but containment
    * ~1), which is why substring-level dedup pipelines track
    * containment separately.
    *
    * One-sided prefix filter (lossless): if every one of A's
    * |A| − ⌈t·|A|⌉ + 1 globally-rarest shingles misses B, then
    * |A∩B| < ⌈t·|A|⌉ — so only A's prefix posts to the candidate
    * join, against B's FULL posting list. Pair work is
    * Σ_{s ∈ prefixes} df(s): prefixes are each doc's rarest shingles,
    * so hot (boilerplate) shingles never probe — the same reason
    * [[jaccardPairs]] survives a common-vocabulary corpus. The size
    * filter |B| ≥ t·|A| is necessary for C ≥ t and prunes the rest.
    * Exact verify prices candidates only. Returns directed pairs
    * (doc_a contained-in doc_b, containment). */
  def containmentPairs(docs: DataFrame, k: Int = 2, threshold: Double = 0.5): DataFrame = {
    // shingle sets feed postings AND the verify re-attach — materialize
    val sets = graft.Materialize.once(
      jaccardSets(docs, k))
    val cand = containmentCandidatesFromSets(sets, threshold, positional = true)
    val inter = graft.expressions.native
      .intersectCount(col("sh_a"), col("sh_b")).cast("double")
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", inter)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / size(col("sh_a")).cast("double"), 6).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Candidate (doc_a, doc_b) pairs for [[containmentPairs]], deduped —
    * exposed so specs can measure the positional filter's candidate
    * reduction.
    *
    * With `positional`, BOTH sides of the candidate join carry their
    * shingle's rank in the full (df, s)-sorted list, bought by ranking
    * the posting table once (both branches read the same ranked
    * frame), and the containment analogue of PPJoin's bound applies:
    * C(A,B) ≥ t needs overlap ≥ t·|A|, and a row whose shingle is the
    * pair's FIRST common one bounds overlap by
    * 1 + min(n_a − rk_a, n_b − rk_b) — for C ≥ t that first common
    * shingle lies within A's prefix (position ≤ |A| − ⌈t·|A|⌉ + 1)
    * and its row always passes, so keep-if-ANY-row-passes is
    * lossless. Hot boilerplate shingles sort LAST (highest df), so
    * their rows have the weakest bounds and are pruned first —
    * exactly the candidate class a boilerplate-heavy corpus drowns
    * in. */
  private[graft] def containmentCandidates(docs: DataFrame, k: Int,
      threshold: Double, positional: Boolean = true): DataFrame =
    containmentCandidatesFromSets(graft.Materialize.once(
      jaccardSets(docs, k)),
      threshold, positional)

  private def containmentCandidatesFromSets(sets: DataFrame,
      threshold: Double, positional: Boolean): DataFrame = {
    val parts = sets.sparkSession.sessionState.conf.numShufflePartitions
    // xxhash64-compressed posting keys (see [[hashedPostings]]): the
    // prefix theorem only needs a shared total order, and the exact
    // string-set verify in containmentPairs removes any extra
    // candidates a collision could add (r19-opt)
    val postings = hashedPostings(sets)
    // materialized ONCE: the ranked posting table feeds BOTH candidate
    // sides (A's prefix and B's full list) — un-truncated, the whole
    // postings/df/rank chain re-ran per side (r18-opt; the caller
    // materializes `sets`, so the two explode references above it are
    // cheap block re-reads).
    val ranked = graft.Materialize.once(
      rankPostings(postings, postingDfs(postings), parts))
    val posOk =
      if (!positional) lit(true)
      else (lit(1) + least(col("n_a") - col("rk_a"), col("n_b") - col("rk_b")))
        .cast("double") >= col("n_a").cast("double") * threshold - 1e-9
    // A's prefix against B's FULL ranked list
    prefixSide(ranked.where(inPrefix(threshold)), "a")
      .join(prefixSide(ranked, "b"), Seq("s"))
      .where(col("doc_a") =!= col("doc_b") &&
        col("n_b") >= col("n_a") * threshold && posOk)
      .select(col("doc_a"), col("doc_b"))
      .repartition(parts, col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Keep-one exact-substring removal (#94b): each cross-document-
    * duplicated 8-token window's content survives in exactly ONE
    * deterministically elected occurrence — the global min
    * (doc_id, p), an argmin the window-df aggregate already pays
    * for — and is cut everywhere else. Election beats cut on
    * overlap: a token covered by a canonical occurrence is KEPT even
    * when another duplicated window also covers it, so the elected
    * copy survives intact instead of being shredded by overlapping
    * non-canonical windows (CurationSpec pins both properties).
    * Scale shape = #94's: instance ngrams, one vocabulary-sized df +
    * election aggregate, per-doc marks as two position lists, the
    * edit a narrow HOF map with zero extra shuffle. */
  private[graft] def dupcutKeepOneOf(doc: DataFrame): DataFrame = {
    val tokd = doc
      .select(col("doc_id"), Text.tokensOrEmpty(col("text")).as("tk"))
    val inst = tokd.select(col("doc_id"),
      posexplode(Text.ngramsOf(col("tk"), 8)))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("w"))
    val stats = inst.groupBy(col("w")).agg(
      countDistinct(col("doc_id")).as("nd"),
      min(struct(col("doc_id"), col("p"))).as("canon"))
    val dupInst = inst.join(stats.where(col("nd") >= 2), "w")
    val isCanon = col("canon.doc_id") === col("doc_id") &&
      col("canon.p") === col("p")
    val marks = dupInst.groupBy(col("doc_id")).agg(
      sort_array(collect_set(when(isCanon, col("p")))).as("kps"),
      sort_array(collect_set(when(!isCanon, col("p")))).as("cps"))
    val joined = tokd.join(marks, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tk"),
        coalesce(col("kps"), array().cast("array<int>")).as("kps"),
        coalesce(col("cps"), array().cast("array<int>")).as("cps"))
    val staged = joined.select(col("doc_id"), col("tk"),
      filter(col("tk"), (_, i0) =>
        exists(col("kps"), q => q <= i0 + 1 && i0 + 1 <= q + 7) ||
          !exists(col("cps"), q => q <= i0 + 1 && i0 + 1 <= q + 7)).as("kept"))
    staged.select(col("doc_id"),
      size(col("tk")).cast("long").as("n_tokens"),
      (size(col("tk")) - size(col("kept"))).cast("long").as("n_cut"),
      sha2(array_join(col("kept"), " "), 256).as("kept_sha"))
  }

  /** Winnowing fingerprint selection (#96): (doc_id, pos, fp) of the
    * selected 4-gram hashes under a w=4 window — see the `text_winnow`
    * entry's commentary for the packing/tiebreak argument. Shared by
    * text_winnow (the selection itself) and winnow_pairs (the
    * detection join over the selected index). */
  private[graft] def winnowFingerprints(doc: DataFrame): DataFrame = {
    val P = 1048576L
    val grams = doc
      .select(col("doc_id"),
        posexplode(Text.ngramsOf(Text.tokens(col("text")), 4)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        conv(substring(sha2(col("col"), 256), 1, 10), 16, 10)
          .cast("long").as("h"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, 3)
    grams
      .select(col("doc_id"),
        min(col("h") * P + (lit(P - 1) - col("pos"))).over(wf).as("key"))
      .distinct()
      .select(col("doc_id"),
        (lit(P - 1) - col("key") % P).as("pos"),
        expr(s"key div $P").as("fp"))
  }
}
