package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.native

/** Deduplication operators for a training-data pipeline over the
  * `documents` table (extension tier): exact, MinHash+LSH, SimHash, n-gram
  * Jaccard verification, and embedding-cosine near-dup.
  *
  * Scale design: signatures (minhash, simhash) are NARROW per-row
  * computations over the document's own token/shingle array — no explode,
  * no shuffle, no state. The only shuffles in the near-dup path are (1) the
  * band-bucket self-join, keyed by band hash so pairs meet only inside a
  * bucket, and (2) nothing else: Jaccard verification joins the candidate
  * pairs (tiny, broadcast) back to per-doc shingle arrays and intersects
  * arrays per row. Shuffle volume ∝ candidate pairs, never |docs|².
  */
object Dedup {

  /** Normalized text used by all fingerprints: lowercase, collapsed
    * whitespace. */
  def normalized(text: Column): Column =
    regexp_replace(lower(text), TextAnalysis.WsPattern + "+", " ")

  // ---------------------------------------------------------------- exact

  /** Exact dedup: md5-of-normalized-text grouping; canonical row = lowest
    * doc_id in the group. One hash-shuffle on the 128-bit key — the 100 TB
    * path (never a sort, never text-vs-text compare).
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(normalized(col("text"))).as("fingerprint"))
      .agg(
        min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))

  /** Rows surviving exact dedup (the canonical copy per fingerprint). */
  def exactDedup(docs: DataFrame): DataFrame = {
    val canon = exactGroups(docs).select(col("canonical_id").as("doc_id"))
    docs.join(canon, Seq("doc_id"), "left_semi")
  }

  // ------------------------------------------------------------- shingles

  /** Normalized whitespace tokens as one array per document — the input
    * shape for the minhash/simhash kernels (shingling happens inside the
    * kernels as token-hash combines; building shingle strings with
    * slice+concat costs ~µs of UTF8 allocation per shingle and dominates
    * everything else).
    */
  def tokenArrays(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      filter(split(normalized(col("text")), " "), t => t =!= lit(""))
        .as("tokens"))

  // ---------------------------------------------------------- MinHash/LSH

  /** MinHash signatures as one `array<long>` column, computed per row by
    * the native [[graft.functions.MinHashSigExpr]] — each shingle hashed
    * once, all permutation minima maintained in a single pass. NO explode,
    * NO shuffle: at 100 TB this is a map-only stage.
    *
    * (A single array column matters: k separate `mh_k` columns get the
    * shingle-array expression inlined k times by CollapseProject.)
    */
  def minhashSignatures(docs: DataFrame, numShingleWords: Int = 3,
      numHashes: Int = 32): DataFrame =
    tokenArrays(docs)
      .select(col("doc_id"),
        native.minhash_sig(col("tokens"), numShingleWords, numHashes)
          .as("signature"))

  /** Per-doc (band_id, band_hash) rows via the fused
    * [[graft.functions.MinHashBandsExpr]]: shingle → signature → band
    * hashes in one expression evaluation, exploded once. (Banding a
    * separate signature column with a lambda re-evaluates the signature
    * once per band after CollapseProject inlining — measured 35× slower.)
    */
  def lshBands(docs: DataFrame, numShingleWords: Int = 3,
      numHashes: Int = 32, bands: Int = 8): DataFrame =
    tokenArrays(docs)
      .select(col("doc_id"),
        posexplode(native.minhash_bands(col("tokens"), numShingleWords,
          numHashes, bands)))
      .toDF("doc_id", "band_id", "band_hash")

  /** Candidate near-dup pairs: docs sharing any (band_id, band_hash)
    * bucket. Self-join on the bucket key only — the shuffle is keyed by
    * band hash, and the `<` predicate keeps each unordered pair once.
    *
    * `maxBandFreq > 0` caps HOT BANDS — the containment family's
    * `maxDocFreq` discipline applied to the LSH join: a band bucket
    * shared by M documents emits M·(M−1)/2 candidate pairs, so one
    * template stamped across a corpus (boilerplate pages, generated
    * forms) makes the self-join quadratic in the template count even
    * though every pair verifies. Buckets with more than `maxBandFreq`
    * member docs are SKIPPED by the join (each band's frequency is a
    * map-side partial count on the same shuffle key the join uses) and
    * disclosed by [[minhashHotBands]] — the audit surface naming each
    * skipped (band_id, band_hash, df). Recall story, mirroring the df
    * cut's: a pair whose EVERY shared band is hot generates no
    * candidate. EXACT duplicates of the template collapse in the
    * exact-dedup pass that precedes every near-dup pass here
    * (refreshCorpus's fingerprint stage, the bridges'
    * dropDuplicatesWithinWatermark), so what the cap actually skips is
    * M near-identical-but-unequal variants — exactly the corpus shape
    * whose M²-pair verify cost no threshold of usefulness survives;
    * run those through [[containmentPairs]] or a raised cap if they
    * must pair. 0 (the default) = off, plan bit-identical to the
    * uncapped join.
    */
  def minhashCandidates(docs: DataFrame, numShingleWords: Int = 3,
      numHashes: Int = 32, bands: Int = 8,
      maxBandFreq: Long = 0L): DataFrame = {
    val banded0 = lshBands(docs, numShingleWords, numHashes, bands)
    val banded =
      if (maxBandFreq <= 0L) banded0
      else {
        // materialized once: the frequency aggregate and the self-join
        // both consume it (without the barrier the banding expression
        // re-runs per consumer); localCheckpoint keeps the rows, the
        // count is a partial-agg shuffle on the join's own key
        val b = Barriers.barrier(banded0)
        b.join(
          b.groupBy(col("band_id"), col("band_hash"))
            .agg(count(lit(1)).as("df"))
            .where(col("df") <= maxBandFreq)
            .select(col("band_id"), col("band_hash")),
          Seq("band_id", "band_hash"), "left_semi")
      }
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band_id") === col("b.band_id") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** The bands [[minhashCandidates]]' `maxBandFreq` cut skips, with
    * their member counts — the disclosure row mirroring
    * [[containmentRecall]]'s honesty contract: a cap that silently
    * dropped recall would be a lie; this names every skipped bucket so
    * the operator can audit what template family it was and route it
    * (exact dedup, containment, or a raised cap).
    */
  def minhashHotBands(docs: DataFrame, numShingleWords: Int = 3,
      numHashes: Int = 32, bands: Int = 8,
      maxBandFreq: Long = 1000L): DataFrame =
    lshBands(docs, numShingleWords, numHashes, bands)
      .groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") > maxBandFreq)

  /** Sorted distinct shingle HASHES per document (one `array<long>`
    * column) — the cheap per-doc shape for exact Jaccard: one XXH64 per
    * token, long-arithmetic shingle combine, in-place sort. Intersections
    * then run as linear merges ([[graft.functions
    * .SortedIntersectCountExpr]]), not per-pair hash-set builds. Hash
    * identity ≡ string identity up to 64-bit collisions (~1e-9 at 1M
    * distinct shingles), the standard trade for exact-Jaccard-at-scale.
    */
  def shingleHashArrays(docs: DataFrame,
      numShingleWords: Int = 3): DataFrame =
    tokenArrays(docs).select(col("doc_id"),
      native.shingle_hashes_sorted(col("tokens"), numShingleWords)
        .as("sh"))

  /** THE two overlap scores, defined once each so the exact all-pairs
    * baselines and the candidate-verify scale paths share bit-identical
    * arithmetic (the found ⊆ exact contract cannot drift between
    * scorers): both divide the sorted-merge intersection count by a
    * denominator built from the same `size(sh_a)`/`size(sh_b)` columns.
    */
  private val jaccardScore: Column => Column =
    n => n / (size(col("sh_a")) + size(col("sh_b")) - n)
  private val containmentScore: Column => Column =
    n => n / least(size(col("sh_a")), size(col("sh_b")))

  /** Exact verification of candidate pairs by merging the two docs'
    * sorted shingle-hash arrays — the candidate-pair table is broadcast
    * back onto the per-doc arrays, so verification cost is
    * O(candidates · shingles), with no shingle-level shuffle. Shared by
    * the Jaccard ([[jaccardVerify]]) and containment
    * ([[containmentPairs]]) scale paths.
    */
  private def scoredVerify(docs: DataFrame, candidates: DataFrame,
      numShingleWords: Int, threshold: Double, scoreName: String,
      score: Column => Column): DataFrame =
    // shingle hashes only for docs that appear in a candidate pair —
    // semi-join first so verification cost is O(candidate docs)
    scoredVerifyWith(
      shingleHashArrays(
        docs.join(broadcast(involvedIds(candidates)), Seq("doc_id"),
          "left_semi"),
        numShingleWords),
      candidates, threshold, scoreName, score)

  /** The distinct doc ids a candidate pair set touches — the pruning key
    * for every verify stage (shingle arrays are only built/read for
    * these). */
  private def involvedIds(candidates: DataFrame): DataFrame =
    candidates.select(col("id_a").as("doc_id"))
      .union(candidates.select(col("id_b").as("doc_id"))).distinct()

  /** [[scoredVerify]]'s join+score tail over a PREBUILT (doc_id, sh)
    * table — split out so the incremental path ([[nearDupAgainstIndex]])
    * can feed arrays read from a persisted index next to arrays computed
    * for the new batch, with the arithmetic living exactly once.
    */
  private def scoredVerifyWith(sh: DataFrame, candidates: DataFrame,
      threshold: Double, scoreName: String,
      score: Column => Column): DataFrame = {
    val shA = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val shB = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    shA.join(broadcast(candidates), Seq("id_a"))
      .join(shB, Seq("id_b"))
      .withColumn("n_inter",
        native.sorted_intersect_count(col("sh_a"), col("sh_b")))
      .withColumn(scoreName, score(col("n_inter")))
      .where(col(scoreName) >= threshold)
      .select("id_a", "id_b", scoreName)
  }

  /** n-gram Jaccard verification of candidate pairs: exact |A∩B|/|A∪B|,
    * see [[scoredVerify]]. */
  def jaccardVerify(docs: DataFrame, candidates: DataFrame,
      numShingleWords: Int = 3, threshold: Double = 0.7): DataFrame =
    scoredVerify(docs, candidates, numShingleWords, threshold,
      "jaccard", jaccardScore)

  /** MinHash+LSH near-dup end-to-end: candidates → exact-Jaccard verify. */
  def nearDupPairs(docs: DataFrame, threshold: Double = 0.7,
      maxBandFreq: Long = 0L): DataFrame =
    jaccardVerify(docs, minhashCandidates(docs, maxBandFreq = maxBandFreq),
      threshold = threshold)

  /** Exact all-pairs n-gram Jaccard — the brute-force ORACLE BASELINE the
    * LSH path ([[nearDupPairs]]) approximates. O(n²) pairs by construction:
    * use it to validate recall on samples, never as the scale path. The
    * arithmetic (int intersection sizes, one double division) is
    * engine-portable, so an external SQL engine reproduces it bit-for-bit.
    */
  def jaccardAllPairs(docs: DataFrame, numShingleWords: Int = 3,
      threshold: Double = 0.5): DataFrame =
    allPairsScored(docs, numShingleWords, threshold, "jaccard",
      jaccardScore)

  /** Shared all-pairs scaffold of [[jaccardAllPairs]] and
    * [[containmentAllPairs]]: shingle-hash arrays → self-join →
    * sorted-merge intersection → `score(n_inter)` thresholded.
    * The lineage barrier ([[Barriers.barrier]]) BEFORE the self-join
    * is load-bearing:
    * without it CollapseProject inlines the shingle expression into the
    * join's output projection and recomputes it per PAIR (O(n²)
    * tokenizations instead of O(n) — measured 10× on 500k pairs).
    * Zero-shingle docs (empty/whitespace text) are excluded up front —
    * no overlap measure is defined on an empty set, and a zero
    * denominator diverges across engines (Spark Divide → NULL-drop,
    * DuckDB float → NaN that compares GREATER than any threshold).
    */
  private def allPairsScored(docs: DataFrame, numShingleWords: Int,
      threshold: Double, scoreName: String,
      score: Column => Column): DataFrame = {
    val sh = Barriers.barrier(
      shingleHashArrays(docs, numShingleWords)
        .where(size(col("sh")) > 0))
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("n_inter",
        native.sorted_intersect_count(col("sh_a"), col("sh_b")))
      .withColumn(scoreName, score(col("n_inter")))
      .where(col(scoreName) >= threshold)
      .select("id_a", "id_b", scoreName)
  }

  /** Exact all-pairs CONTAINMENT (overlap coefficient):
    * |A∩B| / min(|A|,|B|) ≥ threshold — the partial-overlap family
    * Jaccard misses entirely: a 100-shingle document quoted inside a
    * 10k-shingle page has Jaccard ≤ 0.01 but containment 1.0
    * (substring-level duplication motivates this measure — Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499). Same sorted-merge kernel and O(n²) oracle
    * contract as [[jaccardAllPairs]]; minhash-LSH candidates
    * UNDER-recall containment pairs (band collisions track Jaccard),
    * so the scale path is the inverted-shingle-index candidate
    * generator [[containmentCandidates]] + [[containmentPairs]], never
    * [[minhashCandidates]].
    */
  def containmentAllPairs(docs: DataFrame, numShingleWords: Int = 3,
      threshold: Double = 0.5): DataFrame =
    allPairsScored(docs, numShingleWords, threshold, "containment",
      containmentScore)

  /** Candidate pairs for containment verification via an inverted
    * shingle index — the size-aware generator minhash-LSH cannot be
    * (band collisions track Jaccard; a doc-in-doc pair has tiny
    * Jaccard): explode each doc's distinct shingle hashes, drop
    * shingles occurring in more than `maxDocFreq` documents (frequent
    * boilerplate shingles are what makes a posting-list join
    * quadratic — the standard inverted-index prefix cut), and
    * equi-join postings on the shingle hash with the PROBE side
    * restricted to docs of at most `smallMaxShingles` shingles (the
    * "contained document" side of a doc-in-doc pair is small by
    * definition — containment ≥ t needs t·|small| of the small doc's
    * shingles present in the other, so the small side always probes).
    *
    * Scale: the postings explode is one corpus pass; the join shuffle
    * is keyed by shingle hash and bounded by
    * |probe shingles|·maxDocFreq matches — never all-pairs; a hot
    * shingle at the df cap is an AQE-splittable skew key. Candidates
    * are pairs sharing ≥ `minHits` surviving shingles.
    *
    * TWO disclosed recall cuts, both quantified by
    * [[containmentRecall]]'s row: (1) the df cut hides pairs whose
    * entire overlap is frequent shingles; (2) the probe size cap is
    * ABSOLUTE when `sampleK = 0` — a pair where BOTH docs exceed
    * `smallMaxShingles` generates no candidate, so big-big duplication
    * must either be covered by raising the cap (cost grows ∝ probe
    * shingles, still df-bounded) or caught by the Jaccard path
    * (near-total overlap of comparable sizes has Jaccard ≥ t·r/(1+r)
    * for size ratio r, which minhash bands do track). The cap's intent
    * is the doc-in-doc family: the CONTAINED side of such a pair is
    * small by definition.
    *
    * `sampleK > 0` adds a SAMPLED-PROBE big-big path that covers cut
    * (2) with a bounded budget: each above-cap doc probes with its
    * `sampleK` smallest shingle hashes — the k minima of a hashed set
    * are a uniform without-replacement sample of it (min-wise
    * sampling), deterministic and map-side. For a big-big pair whose
    * true containment is c (denominator = the smaller side, which is
    * the side made to probe), each sampled shingle hits the partner's
    * postings with probability ≥ c, so hits ~ Hypergeometric(n, ≥cn,
    * k) and `sampleMinHits = m` accepts with P[miss] ≤
    * exp(−2k·(c − (m−1)/k)²) (Hoeffding); at m = 1 this is ≤ (1−c)^k
    * (k = 64, c = 0.5 → ~5e−20). Two honest caveats, priced by
    * [[containmentRecall]]'s disclosure row: a sampled hash that was
    * df-cut cannot hit (effective hit probability ≥ c − the doc's
    * frequent-shingle fraction), and candidate cost grows by
    * |big docs|·sampleK postings (map-side, df-bounded — never
    * all-pairs). Verification stays exact on the FULL arrays, so no
    * false positives are introduced.
    */
  def containmentCandidates(docs: DataFrame, numShingleWords: Int = 3,
      smallMaxShingles: Int = 4096, maxDocFreq: Long = 1000,
      minHits: Int = 1, sampleK: Int = 0,
      sampleMinHits: Int = 1): DataFrame =
    containmentCandidatesFromArrays(Barriers.barrier(
        shingleHashArrays(docs, numShingleWords)
          .where(size(col("sh")) > 0)
          .select(col("doc_id"), size(col("sh")).as("n"), col("sh"))),
      smallMaxShingles, maxDocFreq, minHits, sampleK, sampleMinHits)

  /** [[containmentCandidates]]' generator over a PREBUILT, already
    * materialized (doc_id, n, sh) table — split out so the index-backed
    * sweep ([[containmentPairsFromIndex]]) can feed arrays READ from a
    * persisted `shingles/` layout through the identical candidate
    * arithmetic (the posting explode runs on the stored arrays; the
    * stored `postings/` need not be read at all for a full sweep, and
    * the TEXT is not an input anywhere). `sh` must already be
    * barrier'd / materialized: three consumers read it (postings
    * explode, probe cut, big-doc sampler).
    */
  private def containmentCandidatesFromArrays(sh: DataFrame,
      smallMaxShingles: Int, maxDocFreq: Long, minHits: Int,
      sampleK: Int, sampleMinHits: Int): DataFrame = {
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    require(sampleK >= 0, s"sampleK must be >= 0 (0 = off), got $sampleK")
    require(sampleMinHits >= 1 && (sampleK == 0 || sampleMinHits <= sampleK),
      s"sampleMinHits must be in [1, sampleK], got $sampleMinHits")
    val postings = sh.select(col("doc_id"), col("n"),
      explode(col("sh")).as("h"))
    // per-hash document frequency; shingles above the cap are cut
    val rare = postings.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDocFreq)
      .select(col("h"))
    // materialize the pruned posting list ONCE: both self-join sides
    // read it (the probe side adds only a size filter), and without
    // the barrier the df aggregate would run twice. localCheckpoint
    // preserves the hash partitioning on h, so the self-join below
    // needs no further exchange.
    val indexed = Barriers.barrier(postings.join(rare, Seq("h")))
    val probe = indexed.where(col("n") <= smallMaxShingles)
    // orientation: each unordered pair counts each shared shingle
    // exactly once — probe-vs-big pairs match in either id order (the
    // big side never probes), probe-vs-probe pairs only as id_a < id_b
    val basePairs = probe.as("a").join(indexed.as("b"),
        col("a.h") === col("b.h") &&
        (col("a.doc_id") < col("b.doc_id") ||
          col("b.n") > lit(smallMaxShingles)))
      .groupBy(
        least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
      .agg(count(lit(1)).as("hits"))
      .where(col("hits") >= minHits)
      .select(col("id_a"), col("id_b"))
    if (sampleK == 0) basePairs
    else {
      // big-big sampled probes: the k smallest hashes of each above-cap
      // doc (sh is sorted ascending, so a slice IS the min-wise sample)
      // probe the full df-cut index; the SMALLER side of a pair probes
      // (its size is the containment denominator, giving the ≥ c
      // per-sample hit rate), with doc_id breaking size ties. Disjoint
      // from basePairs by construction (there at least one side ≤ cap).
      val bigProbe = sh.where(col("n") > smallMaxShingles)
        .select(col("doc_id"), col("n"),
          explode(slice(col("sh"), 1, sampleK)).as("h"))
      val sampledPairs = bigProbe.as("a").join(indexed.as("b"),
          col("a.h") === col("b.h") &&
          col("b.n") > lit(smallMaxShingles) &&
          (col("a.n") < col("b.n") ||
            (col("a.n") === col("b.n") &&
              col("a.doc_id") < col("b.doc_id"))))
        .groupBy(
          least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
        .agg(count(lit(1)).as("hits"))
        .where(col("hits") >= sampleMinHits)
        .select(col("id_a"), col("id_b"))
      basePairs.unionByName(sampledPairs)
    }
  }

  /** Containment (overlap coefficient) near-dup pairs at scale:
    * inverted-index candidates ([[containmentCandidates]]) verified by
    * the exact sorted-merge kernel — the SAME [[containmentScore]]
    * arithmetic as [[containmentAllPairs]], so found-pairs ⊆
    * exact-pairs holds bit-exactly and [[containmentRecall]]'s recall
    * is a pure count ratio. This is the 100 TB path the q81 oracle
    * baseline validates.
    */
  def containmentPairs(docs: DataFrame, numShingleWords: Int = 3,
      threshold: Double = 0.5, smallMaxShingles: Int = 4096,
      maxDocFreq: Long = 1000, minHits: Int = 1, sampleK: Int = 0,
      sampleMinHits: Int = 1): DataFrame =
    scoredVerify(docs,
      containmentCandidates(docs, numShingleWords, smallMaxShingles,
        maxDocFreq, minHits, sampleK, sampleMinHits),
      numShingleWords, threshold, "containment", containmentScore)

  /** The FULL containment sweep computed from a standing
    * [[writeContainmentIndex]] layout instead of corpus text: the
    * stored `shingles/` arrays (one read, no tokenize/shingle kernel
    * anywhere in the plan) flow through the IDENTICAL candidate
    * generator and verify arithmetic as [[containmentPairs]], so the
    * pairs are bit-identical to an inline sweep over the text those
    * arrays were written from — which, by the refresh lifecycle's
    * contract, is the corpus's own text-as-indexed (`text_original`
    * where cleaning changed it; retraction deletes a doc's shingle
    * rows, so the index's doc set IS the corpus's). What this buys at
    * scale: the scheduled big-big sweep's single largest stage was
    * re-shingling 100 TB of text the index already holds the shingles
    * of — the sweep becomes pure join/aggregate work over the arrays.
    * `dropDuplicates` on doc_id absorbs a retried append's re-written
    * rows (the probe surfaces' documented duplicate-row price).
    */
  def containmentPairsFromIndex(spark: SparkSession, dir: String,
      threshold: Double = 0.5, smallMaxShingles: Int = 4096,
      maxDocFreq: Long = 1000, minHits: Int = 1, sampleK: Int = 0,
      sampleMinHits: Int = 1): DataFrame = {
    val (_, shLayout) = readContainmentParamsAndLayout(spark, dir)
    val sh = Barriers.barrier(
      readIndexShingles(spark, dir, shLayout)
        .dropDuplicates("doc_id")
        .where(size(col("sh")) > 0)
        .select(col("doc_id"), size(col("sh")).as("n"), col("sh")))
    val candidates = containmentCandidatesFromArrays(sh,
      smallMaxShingles, maxDocFreq, minHits, sampleK, sampleMinHits)
    scoredVerifyWith(sh.select(col("doc_id"), col("sh")), candidates,
      threshold, "containment", containmentScore)
  }

  /** Containment dedup survivors: one canonical document (lowest
    * doc_id) per containment-duplicate cluster plus every unclustered
    * document — the [[dedupByClusters]] tail over [[containmentPairs]]
    * edges, removing the doc-in-doc duplication family Jaccard dedup
    * leaves behind. Inherits [[containmentCandidates]]' two disclosed
    * recall cuts (df cap; pairs where BOTH sides exceed
    * `smallMaxShingles` are out of this generator's scope) — validate
    * the parameter choice with [[containmentRecall]] on a sample.
    */
  def containmentDedup(docs: DataFrame, numShingleWords: Int = 3,
      threshold: Double = 0.8, smallMaxShingles: Int = 4096,
      maxDocFreq: Long = 1000, strategy: String = "labelprop"): DataFrame =
    dedupByClusters(docs,
      containmentPairs(docs, numShingleWords, threshold,
        smallMaxShingles, maxDocFreq),
      strategy = strategy)

  /** Recall of the inverted-index containment path against the exact
    * all-pairs baseline on the SAME input, plus the fraction of pairs
    * it actually verified — ONE row (n_exact, n_found, recall,
    * scan_frac, small_max, max_doc_freq). The [[semanticDedupRecall]]
    * honesty contract for containment: the df cut and the probe size
    * cap cannot silently trade recall, because this row discloses
    * both. The exact side is O(n²) by construction — cap the input
    * like the oracle baselines (q81); found ⊆ exact bit-exactly
    * (shared [[containmentScore]]), so recall is a count ratio after
    * an inner join on pair ids.
    */
  def containmentRecall(docs: DataFrame, numShingleWords: Int = 3,
      threshold: Double = 0.5, smallMaxShingles: Int = 4096,
      maxDocFreq: Long = 1000, minHits: Int = 1, sampleK: Int = 0,
      sampleMinHits: Int = 1): DataFrame = {
    val base = docs.localCheckpoint()
    val exact = containmentAllPairs(base, numShingleWords, threshold)
      .select(col("id_a"), col("id_b"))
    // candidates materialized once: the verify AND the scanned-pair
    // count both consume them
    val candidates = containmentCandidates(base, numShingleWords,
      smallMaxShingles, maxDocFreq, minHits, sampleK, sampleMinHits)
      .localCheckpoint()
    val found = scoredVerify(base, candidates, numShingleWords,
      threshold, "containment", containmentScore)
      .select(col("id_a"), col("id_b"), lit(1).as("hit"))
    val scanned = candidates.agg(count(lit(1)).as("n_scanned"))
    val nTotal = base.agg(count(lit(1)).as("n"))
    exact.join(found, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(coalesce(col("hit"), lit(0))), lit(0L))
          .as("n_found"))
      .crossJoin(scanned).crossJoin(nTotal)
      .select(col("n_exact"), col("n_found"),
        // no exact pairs → vacuously perfect recall, not NaN
        when(col("n_exact") === 0, lit(1.0))
          .otherwise(col("n_found").cast("double") / col("n_exact"))
          .as("recall"),
        // < 2 rows → no verifiable pairs at all: 0.0, not a NULL from
        // the zero denominator
        when(col("n") < 2, lit(0.0))
          .otherwise(col("n_scanned").cast("double") /
            (col("n") * (col("n") - 1) / 2)).as("scan_frac"),
        lit(smallMaxShingles).as("small_max"),
        lit(maxDocFreq).as("max_doc_freq"),
        // the big-big sampled-probe knobs are part of the recall
        // contract: 0 sample_k = the absolute-cap regime
        lit(sampleK).as("sample_k"),
        lit(sampleMinHits).as("sample_min_hits"))
  }

  // -------------------- persisted containment (postings) index

  /** Materialize a corpus' pruned-posting structure for CONTAINMENT
    * probing as an on-disk index under `dir` — the incremental regime
    * for the doc-in-doc duplication family ([[containmentCandidates]]'
    * inverted-index shape persisted, the [[writeMinhashIndex]] layout
    * discipline throughout):
    *
    *   - `postings/`: one (doc_id, n = the doc's distinct-shingle
    *     count, h) row per posting, PARTITIONED BY
    *     `bucket = pmod(h, postingBuckets)` — every index row for a
    *     given hash lives in ONE bucket, which is what lets a probe
    *     compute the corpus-wide document frequency of a batch-named
    *     hash from the pruned scan alone (the df cut stays EXACT
    *     under pruning).
    *   - `shingles/`: the sorted distinct hash arrays (the exact
    *     verify side, read only for candidate-involved ids — the
    *     [[writeMinhashIndex]] `shingles/` schema, role, AND doc-id
    *     bucket partitioning, with the same pruned-verify and
    *     touched-bucket-deletion payoffs).
    *   - `params/`: (num_shingle_words, posting_buckets,
    *     shingle_buckets), deleted first / written last
    *     ([[writeIndexScaffold]]).
    *
    * Zero-shingle docs are not indexed (the containment measure is
    * undefined on empty sets — [[containmentAllPairs]] excludes them
    * identically).
    */
  def writeContainmentIndex(docs: DataFrame, dir: String,
      numShingleWords: Int = 3, postingBuckets: Int = 256,
      shingleBuckets: Int = 64, mode: String = "overwrite"): Unit = {
    require(postingBuckets > 0,
      s"postingBuckets must be > 0, got $postingBuckets")
    require(shingleBuckets > 0,
      s"shingleBuckets must be > 0, got $shingleBuckets")
    val spark = docs.sparkSession
    val asked = (numShingleWords, postingBuckets)
    // layout from the index on append, caller on create — the minhash
    // writer's rule, stated there
    val effSb = if (mode == "append") readShingleBuckets(spark, dir)
      else Some(shingleBuckets)
    writeIndexScaffold(spark, dir, mode) {
      val p = readContainmentIndexParams(spark, dir)
      require(p == asked,
        s"append with params $asked onto an index written with $p")
    } {
      val sh0 = shingleHashArrays(docs, numShingleWords)
        .where(size(col("sh")) > 0)
      // the overlapped writers below must NOT share the lazy `sh0`
      // tree: both threads' plan optimization constant-folds the SAME
      // tokenize-lambda expression instances when `docs` is a local
      // relation (ConvertToLocalRelation evaluates on the driver, and
      // a higher-order function's lambda variable is mutable state),
      // and the loser of that race writes GARBAGE shingle hashes —
      // a real corruption DedupSpec caught intermittently in r20.
      // The barrier materializes the shingles ONCE, single-threaded;
      // both writers then read the checkpointed rows (which also
      // halves the tokenize+shingle work the two lazy consumers paid).
      val sh = if (mode == "append") sh0 else Barriers.barrier(sh0)
      // APPEND keeps shingles BEFORE postings — candidates come only
      // from postings/, so a crash between the writes leaves
      // unreferenced verify rows, never candidates whose verify side
      // is missing (the minhash family's ordering rationale; on
      // append the standing params stays valid throughout, so probes
      // CAN run mid-write; the sequential writes also make the shared
      // lazy tree safe, so no barrier job is spent on the small-batch
      // path). On OVERWRITE the scaffold deleted params first and
      // rewrites it last — no probe accepts the half-built layout
      // whichever dataset lands first — so the two independent writes
      // overlap (Par, guide §2.6) over the barrier'd rows.
      def shinglesW(): Unit = writeShingles(sh, dir, mode, effSb)
      def postingsW(): Unit = sh
        .select(col("doc_id"), size(col("sh")).as("n"),
          explode(col("sh")).as("h"))
        .withColumn("bucket",
          pmod(col("h"), lit(postingBuckets.toLong)).cast("int"))
        .write.mode(mode).partitionBy("bucket").parquet(s"$dir/postings")
      if (mode == "append") { shinglesW(); postingsW() }
      else Par.run(2)(Seq(() => shinglesW(), () => postingsW()))
    } {
      val base = spark.range(1).select(
        lit(numShingleWords).as("num_shingle_words"),
        lit(postingBuckets).as("posting_buckets"))
      effSb.fold(base)(n => base.withColumn("shingle_buckets", lit(n)))
    }
  }

  private[graft] def readContainmentIndexParams(spark: SparkSession,
      dir: String): (Int, Int) =
    readContainmentParamsAndLayout(spark, dir)._1

  /** ONE params/ read for the containment probes — the
    * [[readMinhashParamsAndLayout]] role for this family, cached the
    * same way. */
  private def readContainmentParamsAndLayout(spark: SparkSession,
      dir: String): ((Int, Int), Option[Int]) =
    IndexMeta.cached(spark, "containment-params", dir) {
      val df = spark.read.parquet(s"$dir/params")
      val hasSb = df.schema.fieldNames.contains("shingle_buckets")
      val r = df.head()
      ((r.getAs[Int]("num_shingle_words"),
        r.getAs[Int]("posting_buckets")),
        if (hasSb) Some(r.getAs[Int]("shingle_buckets")) else None)
    }

  /** Candidate containment pairs TOUCHING a new batch — within-batch
    * and batch-vs-indexed in one pass, because the df cut is a GLOBAL
    * property (unlike the minhash families' per-pair band collisions):
    * the batch's postings union the pruned index postings for the
    * batch's hashes, document frequency is computed over that union —
    * EXACT corpus∪batch df for every hash a batch-touching pair can
    * share, since all index copies of a batch-named hash live in its
    * one pruned bucket — and [[containmentCandidates]]' probe/
    * orientation/hit logic runs verbatim with the output restricted to
    * pairs naming at least one batch doc.
    *
    * EQUALITY contract (DedupSpec-proven): this equals
    * `containmentCandidates(corpus ∪ batch)` restricted to
    * batch-touching pairs, hit-for-hit — same df cut, same
    * `smallMaxShingles` probe restriction, same `minHits`.
    *
    * The inline `sampleK` big-big sampled-probe path is deliberately
    * ABSENT here: the smaller side of a pair must probe, and for a
    * standing-doc-smaller pair that means sampling EVERY indexed
    * above-cap doc per batch — an index-sized pass that breaks the
    * probe-∝-batch economics. Incremental big-big coverage is the
    * disclosed cut: comparable-size near-total overlap is tracked by
    * the Jaccard incremental path ([[nearDupAgainstIndex]]), and a
    * periodic full [[containmentPairs]] sweep with `sampleK` set
    * covers the remainder at maintenance cadence.
    *
    * Scale: batch postings are one map pass; the `postings/` scan is
    * DPP-pruned to the batch's buckets; the join is keyed by shingle
    * hash and df-bounded — never all-pairs. Retried-append duplicate
    * rows are collapsed before counting (hit counts are
    * duplicate-SENSITIVE, unlike the semi-join probes).
    */
  def containmentCandidatesAgainstIndex(spark: SparkSession,
      newDocs: DataFrame, dir: String,
      smallMaxShingles: Int = 4096, maxDocFreq: Long = 1000,
      minHits: Int = 1, broadcastProbe: Boolean = true): DataFrame =
    containmentCandidatesAgainstIndexWith(spark, newDocs, dir,
      readContainmentIndexParams(spark, dir), smallMaxShingles,
      maxDocFreq, minHits, broadcastProbe)

  /** [[containmentCandidatesAgainstIndex]] with stored params in hand
    * — the composed probe reads params/ once. */
  private def containmentCandidatesAgainstIndexWith(spark: SparkSession,
      newDocs: DataFrame, dir: String, params: (Int, Int),
      smallMaxShingles: Int, maxDocFreq: Long,
      minHits: Int, broadcastProbe: Boolean): DataFrame = {
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    val (nsw, buckets) = params
    // the batch's postings, materialized once: the bucket list, the
    // probe join and the union below all read this copy
    val newPost = Barriers.barrier(shingleHashArrays(newDocs, nsw)
      .where(size(col("sh")) > 0)
      .select(col("doc_id"), size(col("sh")).as("n"),
        explode(col("sh")).as("h")))
    val hashKeys = newPost.select(
        pmod(col("h"), lit(buckets.toLong)).cast("int").as("bucket"),
        col("h"))
      .distinct()
    // vacuously-true binary comparison marking the probe side
    // likely-selective so dynamic partition pruning fires
    val hashProbe0 = hashKeys.where(col("h") >= lit(Long.MinValue))
    val hashProbe = if (broadcastProbe) broadcast(hashProbe0)
      else hashProbe0
    val idxPost = probedBuckets(spark, s"$dir/postings",
        Some(postingsSchema), hashKeys)
      .join(hashProbe, Seq("bucket", "h"), "left_semi")
      // retried appends may hold a (doc, h) row twice; hit counting
      // must see it once
      .dropDuplicates("doc_id", "h")
    // deliberately LAZY past the batch's postings (no barrier on the
    // union, unlike the inline [[containmentCandidates]]): the returned
    // plan keeps the DPP-pruned scan visible (PlanSpec pins it), at the
    // price of the self-join below evaluating the union subtree more
    // than once — bounded, because every re-evaluation is the
    // BATCH-footprint pruned scan, never the corpus-scale pass the
    // inline version barriers against. Callers that consume the
    // candidates twice materialize once themselves
    // ([[containmentPairsAgainstIndex]]'s candidates barrier).
    val union = idxPost.select(col("doc_id"), col("n"), col("h"),
        lit(false).as("__new"))
      .unionByName(newPost.select(col("doc_id"), col("n"), col("h"),
        lit(true).as("__new")))
    val rare = union.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDocFreq).select(col("h"))
    val indexed = union.join(rare, Seq("h"))
    val probe = indexed.where(col("n") <= smallMaxShingles)
    probe.as("a").join(indexed.as("b"),
        col("a.h") === col("b.h") &&
        (col("a.doc_id") < col("b.doc_id") ||
          col("b.n") > lit(smallMaxShingles)) &&
        // only batch-touching groups: standing-vs-standing pairs that
        // happen to share a batch-named hash are the full run's
        // business, not the probe's
        (col("a.__new") || col("b.__new")))
      .groupBy(
        least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
      .agg(count(lit(1)).as("hits"))
      .where(col("hits") >= minHits)
      .select(col("id_a"), col("id_b"))
  }

  /** Verified containment pairs (exact overlap coefficient ≥
    * `threshold`) touching a new batch, against a
    * [[writeContainmentIndex]] corpus: incremental candidates, then
    * the exact [[scoredVerifyWith]] merge with index-side arrays READ
    * from `shingles/` and batch-side arrays computed locally — the
    * [[nearDupAgainstIndex]] shape with [[containmentScore]]
    * arithmetic, so incremental ≡ full-run (restricted to
    * batch-touching pairs) holds bit-exactly, scores included
    * (DedupSpec proves it; the q102 DuckDB oracle hash-proves the
    * round-trip at exhaustive cut parameters).
    */
  def containmentPairsAgainstIndex(spark: SparkSession,
      newDocs: DataFrame, dir: String, threshold: Double = 0.5,
      smallMaxShingles: Int = 4096, maxDocFreq: Long = 1000,
      minHits: Int = 1, broadcastProbe: Boolean = true): DataFrame = {
    val (params @ (nsw, _), shLayout) =
      readContainmentParamsAndLayout(spark, dir)
    val candidates = Barriers.barrier(
      containmentCandidatesAgainstIndexWith(spark, newDocs, dir, params,
        smallMaxShingles, maxDocFreq, minHits, broadcastProbe))
    val involved = involvedIds(candidates)
    val newSh = shingleHashArrays(
      newDocs.join(broadcast(involved), Seq("doc_id"), "left_semi"),
      nsw)
    val idxSh = prunedIndexShingles(spark, dir, involved, shLayout)
      // a retried append re-wrote whole rows — one array per doc
      .dropDuplicates("doc_id")
    scoredVerifyWith(newSh.unionByName(idxSh), candidates, threshold,
      "containment", containmentScore)
  }

  /** Chunk-level exact dedup — the fixed-window granularity of
    * substring deduplication (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499 dedup 50-token
    * windows): split each document's normalized token stream into
    * consecutive `chunkTokens`-token chunks (last chunk may be
    * shorter), keep each distinct chunk's FIRST occurrence corpus-wide
    * (lowest (doc_id, chunk index)), drop every later copy, and
    * reassemble each document from its surviving chunks in original
    * order. Returns (doc_id, n_chunks, n_kept, text) — text is the
    * deduplicated document ("" when every chunk occurred earlier
    * elsewhere).
    *
    * Scale: one explode (corpus tokens / chunkTokens rows), a
    * partial+final min-aggregate keyed by the chunk's md5, one
    * equi-join on that key, one per-doc reassembly aggregate — every
    * shuffle is hash-bucketed, nothing is all-pairs, and chunk strings
    * cross the wire once.
    */
  def dedupChunks(docs: DataFrame, chunkTokens: Int = 50): DataFrame =
    chunkDedupTail(gridChunkBase(docs, chunkTokens))

  /** (doc_id, chunks) under the fixed-grid rule — the barrier'd base
    * shared by [[dedupChunks]] and the chunk-index surfaces. The barrier
    * matters: the tokenize+chunk projection feeds the exploded key
    * stream (twice: canonical aggregate + join back) AND the final
    * n_chunks select — without it the expensive chunk-string build would
    * run once per consumer; the cheap explode+md5 on top of the
    * materialized chunks is what gets recomputed instead.
    */
  private def gridChunkBase(docs: DataFrame, chunkTokens: Int,
      withBarrier: Boolean = true): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be > 0, got $chunkTokens")
    val nChunks = ceil(size(col("tokens")).cast("double") / chunkTokens)
      .cast("int")
    maybeBarrier(withBarrier)(tokenArrays(docs).select(col("doc_id"),
      // sequence(0, -1) would step DOWN; zero-token docs get no chunks
      when(size(col("tokens")) > 0,
        transform(sequence(lit(0), nChunks - 1),
          i => array_join(
            slice(col("tokens"), i * chunkTokens + lit(1),
              lit(chunkTokens)), " ")))
        .otherwise(typedLit(Array.empty[String])).as("chunks")))
  }

  /** Shared first-occurrence + reassembly tail for both chunking rules:
    * `base` is (doc_id, chunks: array<string>); keep each distinct chunk's
    * lowest (doc_id, idx) occurrence, rebuild each doc from survivors.
    * `dropHashes`, when given, is a (ch) set of chunk md5s that lose
    * UNCONDITIONALLY (the persisted-index probe: chunks already indexed
    * elsewhere) — applied after the within-input first-occurrence rule,
    * as one anti-join whose small side is bounded by the input's own
    * distinct chunks.
    */
  private def chunkDedupTail(base: DataFrame,
      dropHashes: Option[DataFrame] = None,
      sep: String = " "): DataFrame = {
    val keyed = base
      .select(col("doc_id"), posexplode(col("chunks")))
      .toDF("doc_id", "idx", "chunk")
      .withColumn("ch", md5(col("chunk")))
    val canon = keyed.groupBy(col("ch"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
    val kept0 = keyed.join(canon, Seq("ch"))
      .where(col("doc_id") === col("f.doc_id") &&
        col("idx") === col("f.idx"))
    val kept = dropHashes.fold(kept0)(d =>
      kept0.join(d, Seq("ch"), "left_anti"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("idx"),
            col("chunk")))), s => s.getField("chunk")), sep).as("text"))
    base.select(col("doc_id"), size(col("chunks")).as("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("text"), lit("")).as("text"))
  }

  /** Content-defined chunk dedup — the offset-robust variant of
    * [[dedupChunks]]. Fixed token-grid windows miss a passage duplicated
    * at a different token offset (disjoint chunks, zero detection — the
    * common boilerplate/quotation case Lee et al. arXiv:2107.06499 use a
    * suffix array for). Here a chunk ends AT token `i` iff the token's
    * own content says so: `lehmer(rollingHash(token_i)) ≡ 0 (mod
    * divisor)`, where rollingHash is the repo's Rabin–Karp byte fold
    * ([[graft.functions.RollingHashExpr]], base 257 mod 1e9+7) and
    * `lehmer(h) = h·48271 mod 1e9+7` is the same Park–Miller mix
    * [[Sharding.mixedHash]] uses — the raw rolling hash is affine in the
    * trailing byte, so its low-order residues are biased; the mix
    * decorrelates them. Boundaries depend only on token content, so a
    * duplicated passage produces identical internal boundaries at ANY
    * offset: all its chunks after the first shared boundary realign and
    * dedup. Expected chunk length = `divisor` tokens (geometric); a doc
    * with no boundary token is one whole-doc chunk. Same first-occurrence
    * + reassembly contract as [[dedupChunks]].
    *
    * Scale: identical shape to [[dedupChunks]] — the boundary rule is
    * per-token arithmetic inside the same map-side projection (no extra
    * shuffle); then one explode, one min-aggregate on the chunk hash, one
    * equi-join, one per-doc rebuild. Pure content rule (no min/max chunk
    * clamp) keeps the boundary decision offset-independent — a max-size
    * forced cut would depend on the previous cut's position and break
    * realignment.
    *
    * GRANULARITY WARNING: `divisor` is the EXPECTED chunk length in
    * tokens, and every later occurrence of a duplicated chunk is
    * DELETED — a small divisor removes short common token runs
    * (boilerplate phrases, code idioms) that are legitimate repeated
    * language, which is precisely why Lee et al. dedup at ~50-token
    * granularity. The default is the paper-safe 50; drop below it only
    * for corpora of very short documents (the sf0.01 oracle fixtures
    * run 8 because their synthetic docs are ~30-60 tokens), and treat
    * anything under ~20 as a test-only setting.
    */
  def dedupChunksCDC(docs: DataFrame, divisor: Int = 50): DataFrame =
    chunkDedupTail(cdcChunkBase(docs, divisor))

  /** (doc_id, chunks) under the content-defined rule — the barrier'd
    * base shared by [[dedupChunksCDC]] and the chunk-index surfaces.
    * The boundary rule runs in the native one-pass kernel
    * ([[graft.functions.CdcChunksExpr]]): the built-in formulation
    * (filter/zip_with over sequence positions) evaluates the rolling
    * hash inside codegen-fallback HOF lambdas, measured ~7x the fixed
    * grid's cost at sf1; the kernel matches the engine-portable rule
    * bit-for-bit (q88's DuckDB oracle + DedupSpec's engine-identical
    * simulation prove it). Same consumer-fanout barrier rationale as
    * [[gridChunkBase]]; coalesce: NULL text → NULL tokens → the
    * null-intolerant kernel returns NULL, but the contract (and the q88
    * oracle) is 0 chunks.
    */
  private def cdcChunkBase(docs: DataFrame, divisor: Int,
      withBarrier: Boolean = true): DataFrame = {
    require(divisor > 1, s"divisor must be > 1, got $divisor")
    maybeBarrier(withBarrier)(tokenArrays(docs).select(col("doc_id"),
      coalesce(native.cdc_chunks(col("tokens"), divisor),
        typedLit(Array.empty[String])).as("chunks")))
  }

  /** Line/paragraph-level exact dedup — the natural-boundary
    * granularity of the chunk family (the Dolma pipeline's paragraph
    * dedup, Soldaini et al. arXiv:2402.00159 §4: drop every later
    * exact copy of a paragraph corpus-wide, keep the first): the dedup
    * unit is the TRIMMED newline-delimited line (empty-after-trim
    * lines drop in normalization, like the token rules' whitespace
    * collapse), first occurrence survives by lowest (doc_id, line
    * index), and each document reassembles from its surviving lines in
    * original order, newline-joined. Returns the
    * [[dedupChunks]] contract: (doc_id, n_chunks, n_kept, text).
    *
    * Where the grid/cdc rules target RUN-level duplication inside
    * flowing prose, the line rule targets STRUCTURAL duplication —
    * boilerplate headers/footers, navigation lines, license blocks —
    * whose boundaries are authored, not statistical, so duplicated
    * lines realign at any position with no offset-robustness machinery.
    *
    * GRANULARITY WARNING (the [[dedupChunksCDC]] concern, sharper
    * here): every later occurrence of a duplicated line is DELETED,
    * and short lines ("Introduction", "}", "- yes") are legitimate
    * repeated language — corpus-wide line dedup is aggressive by
    * construction (Dolma applies it deliberately). Admission policy
    * beyond exact-line equality (length floors, per-domain scoping)
    * belongs to the caller's upstream filter, not this operator.
    *
    * Scale: identical shape to [[dedupChunks]] — the split+trim is the
    * same map-side projection cost class as tokenization; then one
    * explode, one min-aggregate on the line's md5, one equi-join, one
    * per-doc rebuild. Nothing is all-pairs.
    */
  def dedupLines(docs: DataFrame): DataFrame =
    chunkDedupTail(lineChunkBase(docs), sep = "\n")

  /** (doc_id, chunks) under the line rule — chunks are the trimmed
    * non-empty newline-delimited lines. The split eats an optional
    * `\r` before each `\n`: space-only trim would keep a CRLF line's
    * trailing `\r`, and a Windows-authored boilerplate footer would
    * then never match its LF twin — the exact duplication class this
    * rule exists for. Same barrier rationale as [[gridChunkBase]]. */
  private def lineChunkBase(docs: DataFrame,
      withBarrier: Boolean = true): DataFrame =
    maybeBarrier(withBarrier)(docs.select(col("doc_id"),
      filter(transform(split(coalesce(col("text"), lit("")), "\r?\n"),
          l => trim(l)), l => l =!= "").as("chunks")))

  private def chunkBaseFor(docs: DataFrame, rule: String,
      granularity: Int, withBarrier: Boolean = true): DataFrame =
    rule match {
      case "grid" => gridChunkBase(docs, granularity, withBarrier)
      case "cdc" => cdcChunkBase(docs, granularity, withBarrier)
      case "line" =>
        // granularity is meaningless for authored boundaries; the
        // params row stores 1 and anything else is corruption, not a
        // knob — refuse rather than silently ignore
        require(granularity == 1,
          s"line rule has no granularity (expected 1, got $granularity)")
        lineChunkBase(docs, withBarrier)
      case other => throw new IllegalArgumentException(
        s"unknown chunk rule '$other' (expected 'grid', 'cdc' or 'line')")
    }

  /** The reassembly separator a rule's chunks were split on — the
    * line rule rebuilds documents newline-joined, the token rules
    * space-joined (their normalization collapsed whitespace). */
  private def chunkSepFor(rule: String): String =
    if (rule == "line") "\n" else " "

  /** The chunk bases' barrier, made skippable for single-consumer
    * pipelines (the index write): the barrier amortizes multi-consumer
    * fanout and is pure overhead — an eager corpus-wide
    * materialization — when the plan is consumed exactly once. */
  private def maybeBarrier(on: Boolean)(df: DataFrame): DataFrame =
    if (on) Barriers.barrier(df) else df

  // -------------------------- persisted chunk index (incremental substring)

  /** Materialize the corpus' DISTINCT chunk hashes under `dir` for
    * INCREMENTAL substring dedup — the [[writeMinhashIndex]] pattern for
    * the chunk granularity: index the corpus once, then
    * [[dedupChunksAgainstIndex]] drops any new-batch chunk already
    * present and `mode = "append"` folds the processed batch in, so the
    * weekly refresh never re-chunks the standing corpus. Layout:
    *
    *   - `chunks/`: distinct chunk md5s, parquet PARTITIONED BY
    *     `bucket = pmod(xxhash64(ch), chunkBuckets)` — a batch probes
    *     with its own chunk buckets, partition-pruning the scan.
    *   - `params/`: ONE row (rule, granularity, buckets, max_doc_id)
    *     read back by probes — chunk sets under different
    *     rules/granularities are incomparable, and max_doc_id is the
    *     monotone-id watermark [[dedupChunksAgainstIndex]] enforces
    *     (refreshed on every append). Same delete-first/write-last
    *     crash discipline as [[writeMinhashIndex]].
    *
    * Appended batches may re-write hashes the index already holds —
    * harmless (the probe is a semi-join; duplicates change nothing) and
    * far cheaper than a global re-distinct per append. Because appends
    * are data-then-params, a crash MID-append can leave the batch's
    * chunks in place under the OLD (lower) max_doc_id watermark — a
    * state later probes cannot detect. Retry the crashed append with
    * the SAME batch before probing or appending further (idempotent:
    * the duplicate hash rows are the price above; [[compactIndex]]
    * re-distincts them away).
    *
    * The grid flavor; [[writeChunkIndexCDC]] indexes under the
    * offset-robust content-defined rule.
    *
    * SIZING `chunkBuckets`: the probe prunes to the buckets named by
    * the batch's DISTINCT chunk hashes (`bucket = xxhash64(md5) %
    * chunkBuckets`), so pruning pays while that count sits well below
    * `chunkBuckets` — for typical 50-token chunks a batch of B docs
    * names roughly `B × tokens/50` buckets. The trade is the same as
    * [[writeMinhashIndex]]'s (which carries the measured sf1 example):
    * more buckets → finer pruning but more per-append files;
    * [[compactIndex]] repacks to one file per bucket between seasons.
    */
  def writeChunkIndex(docs: DataFrame, dir: String, chunkTokens: Int = 50,
      chunkBuckets: Int = 256, mode: String = "overwrite"): Unit =
    writeChunkIndexWith(docs, dir, "grid", chunkTokens, chunkBuckets, mode)

  /** [[writeChunkIndex]] under the line rule ([[dedupLines]]'s
    * paragraph granularity — distinct trimmed-line md5s; granularity
    * is stored as 1, the rule has no knob). Probes, appends, deletion
    * and compaction dispatch on the stored rule like the other two.
    *
    * The split-and-trim normalization is part of each entry's CONTENT
    * ADDRESS (stored rows are line md5s): changing it — as the CRLF
    * handling did within the round the rule shipped — strands entries
    * hashed under the old form (never matched, never retractable by
    * re-derivation). Any future normalization change must ship with an
    * index REBUILD from the published corpus, not an in-place upgrade.
    */
  def writeChunkIndexLines(docs: DataFrame, dir: String,
      chunkBuckets: Int = 256, mode: String = "overwrite"): Unit =
    writeChunkIndexWith(docs, dir, "line", 1, chunkBuckets, mode)

  /** [[writeChunkIndex]] under the content-defined chunking rule
    * ([[dedupChunksCDC]]'s boundary function at `divisor`). */
  def writeChunkIndexCDC(docs: DataFrame, dir: String, divisor: Int = 50,
      chunkBuckets: Int = 256, mode: String = "overwrite"): Unit =
    writeChunkIndexWith(docs, dir, "cdc", divisor, chunkBuckets, mode)

  private def writeChunkIndexWith(docs: DataFrame, dir: String,
      rule: String, granularity: Int, chunkBuckets: Int,
      mode: String): Unit = {
    require(chunkBuckets > 0,
      s"chunkBuckets must be > 0, got $chunkBuckets")
    val spark = docs.sparkSession
    val asked = (rule, granularity, chunkBuckets)
    // the monotone-id watermark ([[dedupChunksAgainstIndex]]'s equality
    // precondition, enforced there): highest id this index has seen —
    // refreshed on every append, so the params rewrite is the one
    // data-dependent field of the three families. An empty input keeps
    // the previous watermark (MinValue on a fresh index: any batch id
    // clears it).
    val batchMax = docs.agg(max(col("doc_id"))).head() match {
      case r if r.isNullAt(0) => Long.MinValue
      case r => r.getLong(0)
    }
    var prevMax = Long.MinValue
    writeIndexScaffold(spark, dir, mode) {
      val p = readChunkIndexParams(spark, dir)
      require((p._1, p._2, p._3) == asked,
        s"append with params $asked onto an index written with " +
          s"(${p._1}, ${p._2}, ${p._3})")
      prevMax = p._4
    } {
      // no lineage barrier on the base: the index write is the ONE
      // single-consumer path through the chunkers, and the barrier's
      // eager corpus-wide materialization would be pure overhead on the
      // largest input these operators ever see (the standing corpus)
      chunkBaseFor(docs, rule, granularity, withBarrier = false)
        .select(explode(col("chunks")).as("chunk"))
        .select(md5(col("chunk")).as("ch"))
        .distinct()
        // INT bucket, matching the inferred partition type — see
        // [[writeMinhashIndex]]'s bucket comment
        .withColumn("bucket",
          pmod(xxhash64(col("ch")), lit(chunkBuckets.toLong)).cast("int"))
        .write.mode(mode).partitionBy("bucket").parquet(s"$dir/chunks")
    } {
      spark.range(1).select(
        lit(rule).as("rule"),
        lit(granularity).as("granularity"),
        lit(chunkBuckets).as("chunk_buckets"),
        lit(math.max(prevMax, batchMax)).as("max_doc_id"))
    }
  }

  // private[graft]: the streaming bridge appends each micro-batch
  // under the index's own stored chunking rule and granularity. Cached
  // on the params/ stamp ([[IndexMeta.cached]]): every append rewrites
  // params/ with the new max_doc_id watermark, re-stamping it
  private[graft] def readChunkIndexParams(spark: SparkSession,
      dir: String): (String, Int, Int, Long) =
    IndexMeta.cached(spark, "chunk-params", dir) {
      val r = spark.read.parquet(s"$dir/params").head()
      (r.getAs[String]("rule"), r.getAs[Int]("granularity"),
        r.getAs[Int]("chunk_buckets"), r.getAs[Long]("max_doc_id"))
    }

  /** Incremental chunk-level substring dedup of a NEW batch against a
    * [[writeChunkIndex]] corpus: the batch is chunked under the INDEX's
    * own stored rule and granularity, a chunk survives iff it is the
    * batch's own first occurrence AND absent from the index, and each
    * document reassembles from its survivors — same output contract as
    * [[dedupChunks]]/[[dedupChunksCDC]].
    *
    * EQUALITY contract (DedupSpec-proven, q95/q96 oracle-checked): when
    * batch doc ids exceed every indexed id (the append-only weekly
    * regime — ids grow monotonically), this equals the FULL-corpus chunk
    * dedup restricted to the batch's rows, because the full run's
    * first-occurrence (min (doc_id, idx)) always lands on the indexed
    * side whenever the chunk exists there. The precondition is ENFORCED,
    * not trusted: the index stores a max_doc_id watermark and a batch at
    * or below it is rejected loudly instead of silently mis-deduped.
    *
    * Scale: the batch's chunks are one map-side pass; the index is
    * touched ONLY by a semi-join keyed on (bucket, ch), so the `chunks/`
    * scan partition-prunes to the batch's buckets and the matched-hash
    * set that flows out is distinct-collapsed to at most the batch's
    * own distinct chunks — never the index size, and append-mode
    * duplicate hash rows cannot inflate it. The final anti-join is
    * batch-vs-that-set.
    */
  def dedupChunksAgainstIndex(spark: SparkSession,
      newDocs: DataFrame, dir: String,
      broadcastProbe: Boolean = true): DataFrame = {
    val (rule, granularity, buckets, maxId) =
      readChunkIndexParams(spark, dir)
    // the equality contract's precondition, enforced instead of trusted:
    // a batch id at or below the index's watermark would make the full
    // run's first-occurrence land on the BATCH side for shared chunks,
    // silently diverging from the index-always-wins incremental rule
    val batchMin = newDocs.agg(min(col("doc_id"))).head() match {
      case r if r.isNullAt(0) => Long.MaxValue
      case r => r.getLong(0)
    }
    require(batchMin > maxId,
      s"batch min doc_id $batchMin is not above the index's max_doc_id " +
        s"$maxId — the incremental ≡ full-run equality needs monotone " +
        "ids (index the lower-id batch first, or renumber)")
    val base = chunkBaseFor(newDocs, rule, granularity)
    // the batch's distinct chunk keys, materialized once: the bucket
    // list and the probe join both read this copy
    val keys = Barriers.barrier(
      base.select(explode(col("chunks")).as("chunk"))
        .select(md5(col("chunk")).as("ch"))
        .distinct()
        .withColumn("bucket",
          pmod(xxhash64(col("ch")), lit(buckets.toLong)).cast("int")))
    // vacuously-true comparison (md5 is always 32 chars) marking the
    // probe side likely-selective so dynamic partition pruning fires —
    // the [[minhashCandidatesAgainstIndex]] predicate trick
    val probe0 = keys.where(length(col("ch")) > 0)
    // broadcastProbe = false for a batch too large to broadcast: the
    // semi-join degrades to a hash shuffle keyed on (bucket, ch) —
    // still ∝ batch + matching index rows — at the cost of the pruned
    // scan (the same trade as the minhash probe's flag)
    val probe = if (broadcastProbe) broadcast(probe0) else probe0
    // distinct: append mode may hold the same hash several times (its
    // documented price), and without the collapse a boilerplate chunk
    // present in N appended batches would put N rows per probe into the
    // anti-join's build side
    val hits = probedBuckets(spark, s"$dir/chunks", Some(chunksSchema),
        keys)
      .join(probe, Seq("bucket", "ch"), "left_semi")
      .select(col("ch")).distinct()
    chunkDedupTail(base, Some(hits), sep = chunkSepFor(rule))
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash over token hashes, computed per row by the native
    * codegen'd [[graft.functions.SimHash64Expr]] — a map-only stage (the
    * explode+groupBy formulation shuffles |tokens| rows; this shuffles
    * nothing).
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      native.simhash64(
        filter(split(normalized(col("text")), " "), t => t =!= lit("")))
        .as("simhash"))

  /** SimHash near-dup: pairs within `maxHamming` bits. Bucketed by the
    * `maxHamming + 1` contiguous bit-chunks of the 64-bit signature —
    * pigeonhole: ≤ h differing bits spread over h+1 chunks leave at least
    * one chunk identical, so the chunked equi-join finds EVERY pair within
    * the radius (e.g. h=3 → four 16-bit quarters, h=8 → nine ~7-bit
    * chunks). The join is always on chunk buckets, never all-pairs.
    *
    * Scale note: bucket selectivity is ~2^(64/(h+1)) — a larger radius
    * means narrower chunks and more intra-bucket candidates (inherent to
    * pigeonhole LSH; HmSearch-style multi-piece probing trades the same
    * budget differently). The exact `bit_count` filter bounds false
    * positives; candidate volume, not correctness, is what h buys.
    */
  def simhashCandidates(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingCandidates(simhash(docs), maxHamming)

  /** Generic pigeonhole Hamming-radius candidate join over ANY 64-bit
    * signature column (simhash, image dHash, ...): input is positional
    * (id, signature); output (id_a, id_b, hamming) with the exact
    * `bit_count` filter applied. Same machinery and guarantees as
    * [[simhashCandidates]]'s scaladoc describes.
    */
  def hammingCandidates(sigsIn: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    // piece widths differ by at most one bit and cover all 64 exactly —
    // derivation shared with the written index ([[signaturePieces]])
    val quarters = signaturePieces(sigsIn, maxHamming)
    val a = quarters.as("a")
    val b = quarters.as("b")
    a.join(b, col("a.q") === col("b.q") && col("a.qh") === col("b.qh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  // ------------------------- persisted Hamming index (64-bit signatures)

  /** Materialize a 64-bit-signature table (simhash, image dHash, ...) as
    * an on-disk Hamming near-dup index under `dir` — the third
    * written-index family next to [[writeMinhashIndex]] (text bands) and
    * [[writeChunkIndex]] (substring hashes). Layout:
    *
    *   - `pieces/`: the signature exploded into its `maxHamming + 1`
    *     pigeonhole pieces (id, q, qh, signature), parquet PARTITIONED BY
    *     `bucket = pmod(qh, pieceBuckets)` — a new batch probes with its
    *     own piece buckets, partition-pruning the scan; the carried full
    *     signature lets the probe apply the exact `bit_count` filter
    *     without a second lookup.
    *   - `params/`: ONE row (max_hamming, piece_buckets), the
    *     delete-first/write-last crash discipline of the sibling indexes.
    *
    * The pigeonhole guarantee is baked in at write time: pieces cover
    * radius ≤ `maxHamming`, so probes may filter to any SMALLER radius
    * but can never exceed it ([[hammingCandidatesAgainstIndex]] enforces
    * this loudly). `mode = "append"` folds a processed batch in.
    *
    * SIZING `pieceBuckets`: a batch of S signatures emits
    * `S × (maxHamming + 1)` piece rows, each naming one bucket — the
    * probe prunes to those, so pruning pays while that product sits
    * well below `pieceBuckets`. Same file-count trade as
    * [[writeMinhashIndex]] (which carries the measured sf1 example);
    * [[compactIndex]] repacks appends to one file per bucket.
    */
  def writeHammingIndex(sigsIn: DataFrame, dir: String,
      maxHamming: Int = 10, pieceBuckets: Int = 256,
      mode: String = "overwrite"): Unit = {
    require(pieceBuckets > 0,
      s"pieceBuckets must be > 0, got $pieceBuckets")
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    val spark = sigsIn.sparkSession
    val asked = (maxHamming, pieceBuckets)
    writeIndexScaffold(spark, dir, mode) {
      val p = readHammingIndexParams(spark, dir)
      require(p == asked,
        s"append with params $asked onto an index written with $p")
    } {
      signaturePieces(sigsIn, maxHamming)
        .withColumn("bucket",
          pmod(col("qh"), lit(pieceBuckets.toLong)).cast("int"))
        .write.mode(mode).partitionBy("bucket").parquet(s"$dir/pieces")
    } {
      spark.range(1).select(
        lit(maxHamming).as("max_hamming"),
        lit(pieceBuckets).as("piece_buckets"))
    }
  }

  // private[graft]: the streaming bridge reads the stored radius/bucket
  // params so its probe and append run under the index's own geometry
  private[graft] def readHammingIndexParams(spark: SparkSession,
      dir: String): (Int, Int) =
    IndexMeta.cached(spark, "hamming-params", dir) {
      val r = spark.read.parquet(s"$dir/params").head()
      (r.getAs[Int]("max_hamming"), r.getAs[Int]("piece_buckets"))
    }

  /** The pigeonhole piece rows of a positional (id, signature) table at
    * radius `maxHamming`: (doc_id, q, qh, simhash), one row per piece —
    * the explode half of [[hammingCandidates]], shared with the written
    * index so both derive identical pieces.
    */
  private def signaturePieces(sigsIn: DataFrame,
      maxHamming: Int): DataFrame = {
    val pieces = maxHamming + 1
    val widths = Array.tabulate(pieces)(i =>
      64 / pieces + (if (i < 64 % pieces) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    sigsIn.toDF("doc_id", "simhash")
      .select(col("doc_id"), col("simhash"),
        explode(array((0 until pieces).map { q =>
          val mask = if (widths(q) == 64) -1L else (1L << widths(q)) - 1L
          struct(lit(q).as("q"),
            shiftright(col("simhash"), offsets(q)).bitwiseAND(lit(mask))
              .as("qh"))
        }: _*)).as("piece"))
      .select(col("doc_id"), col("simhash"),
        col("piece.q"), col("piece.qh"))
  }

  /** Cross near-dup pairs between a NEW batch of 64-bit signatures and a
    * [[writeHammingIndex]] corpus: the batch's pieces (computed at the
    * INDEX's stored radius) equi-join `pieces/` on (bucket, q, qh), with
    * the exact `bit_count` filter at `maxHamming` — which may be
    * SMALLER than the indexed radius (pieces still cover it) but never
    * larger (the pigeonhole guarantee would silently break, so that is
    * rejected loudly). Output (id_a, id_b, hamming), cross pairs only —
    * within-batch pairs are [[hammingCandidates]]' job, and incremental
    * ∪ within-batch equals the full run restricted to batch-touching
    * pairs pair-by-pair (piece collision is a pure function of the two
    * signatures; DedupSpec proves the equality).
    *
    * Scale: batch pieces are map-only; the broadcast probe keys on the
    * partition column so the `pieces/` scan partition-prunes to the
    * batch's buckets (PlanSpec-pinned).
    */
  def hammingCandidatesAgainstIndex(spark: SparkSession,
      newSigs: DataFrame, dir: String, maxHamming: Int = -1,
      broadcastProbe: Boolean = true): DataFrame = {
    // -1 is the only use-the-index's-radius sentinel; other negatives
    // are caller bugs ([[hammingCandidates]] rejects them too)
    require(maxHamming == -1 || (maxHamming >= 0 && maxHamming < 64),
      s"maxHamming must be -1 (index radius) or in [0, 64), " +
        s"got $maxHamming")
    val (indexed, buckets) = readHammingIndexParams(spark, dir)
    val radius = if (maxHamming == -1) indexed else maxHamming
    require(radius <= indexed,
      s"probe radius $radius exceeds the index's pigeonhole radius " +
        s"$indexed — pairs beyond it would be silently missed; " +
        "re-index at the larger radius instead")
    // the batch's pieces, materialized once: the bucket list and the
    // probe join both read this copy
    val keys = Barriers.barrier(signaturePieces(newSigs, indexed)
      .withColumn("bucket",
        pmod(col("qh"), lit(buckets.toLong)).cast("int"))
      .withColumnRenamed("doc_id", "new_id")
      .withColumnRenamed("simhash", "new_sig"))
    // vacuously-true comparison marking the probe likely-selective so
    // dynamic partition pruning fires (the minhash-probe trick)
    val newPieces = keys.where(col("q") >= 0)
    // broadcastProbe = false for a batch too large to broadcast — the
    // same shuffle degradation as the sibling probes
    val probe =
      if (broadcastProbe) broadcast(newPieces) else newPieces
    probedBuckets(spark, s"$dir/pieces", Some(piecesSchema), keys)
      .join(probe, Seq("bucket", "q", "qh"))
      .where(col("doc_id") =!= col("new_id"))
      .select(least(col("doc_id"), col("new_id")).as("id_a"),
        greatest(col("doc_id"), col("new_id")).as("id_b"),
        bit_count(col("simhash").bitwiseXOR(col("new_sig")))
          .as("hamming"))
      .distinct()
      .where(col("hamming") <= radius)
  }

  /** Connected components over near-dup pairs → (doc_id, canonical_id)
    * with canonical = min doc_id in the component, via iterative min-label
    * propagation. Each iteration is one join + one aggregate; convergence
    * needs O(component diameter) rounds — near-dup clusters are shallow,
    * so a handful. At very large scale the same loop applies to the
    * large-star/small-star formulation; a [[Barriers.barrier]]
    * truncates the growing lineage each round (durable under
    * `spark.graft.durableBarriers` — see [[Barriers]]).
    */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    val edges = pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst")
      .persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    var iter = 0
    var changed = 1L
    while (iter < maxIter && changed > 0) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("label", "dst_label"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_label")).as("neighbor_label"))
      // checkpoint the (label, old_label) pair ONCE: the convergence
      // count then reads the materialized result instead of re-running
      // the join+aggregate a second time (halves per-iteration work)
      val updated = Barriers.barrier(
        labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("neighbor_label"),
              col("label"))).as("label"),
            col("label").as("old_label")))
      changed = updated.where(col("label") =!= col("old_label")).count()
      labels = updated.select(col("id"), col("label"))
      iter += 1
    }
    edges.unpersist()
    labels.withColumnRenamed("label", "canonical_id")
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): each round hooks every node to the minimum of its
    * neighborhood, halving component height — O(log n) rounds regardless
    * of diameter, where [[nearDupClusters]]' label propagation needs
    * O(diameter). The scale choice when components can be chain-shaped
    * (e.g. drifted near-dup sequences). Returns (id, canonical_id) with
    * canonical = component minimum, same contract as
    * [[nearDupClusters]].
    */
  def connectedComponentsStars(pairs: DataFrame,
      maxIter: Int = 25): DataFrame = {
    // NO distinct here: every consumer is a min-aggregate or a groupBy,
    // both duplicate-insensitive — a distinct per sym() cost 3 extra
    // shuffles per round. Growth stays bounded by the one distinct on
    // the materialized edge set each round (and on ls below, the one
    // place duplicate pairs multiply).
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
        .where(col("u") =!= col("v"))
    // m(u) = min of the closed neighborhood; edge rows tagged with it
    def withMin(s: DataFrame): DataFrame = {
      val mins = s.groupBy(col("u")).agg(min(col("v")).as("mn"))
      s.join(mins, Seq("u"))
        .withColumn("m", least(col("u"), col("mn")))
    }
    // ONE materialization serves both the algorithm's edge set and the
    // final all-nodes backfill: self-loops survive into the barrier (so
    // a (a,a)-only node still appears in allNodes below) and are
    // filtered lazily for the loop — deriving allNodes from `pairs`
    // itself re-ran the ENTIRE upstream pair generator (for q69, the
    // O(n²) all-pairs scoring join — a full second pass) after the
    // components had already converged (guide §1.2).
    val sym0 = Barriers.barrier(
      pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .union(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
        .distinct())
    var edges = sym0.where(col("u") =!= col("v"))
    var labels: DataFrame = null
    var prevLabels: DataFrame = null
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      // large-star: hook every neighbor LARGER than u onto m(u)
      val ls = withMin(sym(edges))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct() // distinct (u, m) pairs arise from many hooked v's
      // small-star: hook u and its not-larger neighbors onto m(u)
      val wm = withMin(sym(ls))
      val ss = wm.where(col("v") <= col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(wm.select(col("u"), col("m").as("v")))
      edges = Barriers.barrier(
        ss.where(col("u") =!= col("v")).distinct())
      // converged when per-node min-neighbor labels are a fixpoint (the
      // graph is a star forest) — a distributed set difference, never a
      // label collect to the driver. The check must be SYMMETRIC: if the
      // labeled node set shrinks between rounds a one-sided
      // labels⊆prevLabels test reads as equality and exits early,
      // silently self-canonicalizing the dropped nodes. One full-outer
      // join is the whole symmetric difference (two `except`s cost two
      // distinct-building jobs per round — measured 2× the label-prop
      // variant on the bench sample).
      // labels derive from the checkpointed edges — a cheap lineage, so
      // no checkpoint of their own (one action per round saved)
      labels = sym(edges).groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("label"))
      done = prevLabels != null && labels
        .withColumnRenamed("label", "__l")
        .join(prevLabels.withColumnRenamed("label", "__p"), Seq("u"),
          "full_outer")
        .where(col("__l").isNull || col("__p").isNull ||
          col("__l") =!= col("__p"))
        .isEmpty
      prevLabels = labels
      iter += 1
    }
    // nodes isolated by earlier rounds keep their own id — read from
    // the barrier'd symmetric edge set (u alone covers every node of
    // `pairs`: sym0 holds both directions), never from `pairs` (see
    // the sym0 note above)
    val allNodes = sym0.select(col("u").as("id")).distinct()
    allNodes
      .join(labels.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("label"), col("id")).as("canonical_id"))
  }

  /** Near-duplicate REMOVAL: the user-facing tail of the
    * pairs→clusters pipeline — keep ONE canonical document per near-dup
    * cluster (the lowest doc_id) plus every unclustered document.
    * `pairs` is any (id_a, id_b) near-dup edge set, so the same tail
    * serves the LSH scale path ([[nearDupPairs]]) and the exact oracle
    * baseline ([[jaccardAllPairs]]). One anti-join against the
    * non-canonical ids — the cluster table is ∝ near-dup docs, far
    * smaller than the corpus.
    *
    * @param strategy `"labelprop"` ([[nearDupClusters]], O(diameter)
    *        rounds — the default for shallow near-dup clusters) or
    *        `"stars"` ([[connectedComponentsStars]], O(log n) rounds —
    *        pick it when components can be chain-shaped, e.g. drifted
    *        near-dup sequences). Both produce canonical = component
    *        minimum, so survivors are identical.
    * @param idCol the key column of `docs` that `pairs` edges refer to —
    *        `doc_id` for text corpora, `vec_id` for embedding tables
    *        ([[semanticDedup]]).
    */
  def dedupByClusters(docs: DataFrame, pairs: DataFrame,
      maxIter: Int = 10, strategy: String = "labelprop",
      idCol: String = "doc_id"): DataFrame = {
    val clusters = clustersOf(pairs, maxIter, strategy)
    val drop = clusters
      .where(col("id") =!= col("canonical_id"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** (id, canonical_id) components of a pair set under the chosen
    * strategy — the dispatch shared by [[dedupByClusters]] and the
    * centroid-keep [[semanticDedup]] tail. */
  private def clustersOf(pairs: DataFrame, maxIter: Int,
      strategy: String): DataFrame = strategy match {
    case "labelprop" => nearDupClusters(pairs, maxIter)
    case "stars" => connectedComponentsStars(pairs, maxIter)
    case other => throw new IllegalArgumentException(
      s"unknown clustering strategy '$other' " +
        "(expected 'labelprop' or 'stars')")
  }

  /** MinHash→LSH→verify→cluster→remove, end-to-end: the corpus minus
    * near-duplicates at the given Jaccard threshold. The 100 TB path:
    * every stage is the bucketed/semi-join-pruned machinery above.
    * `strategy` picks the clustering shape, see [[dedupByClusters]].
    */
  def nearDupDedup(docs: DataFrame, threshold: Double = 0.7,
      strategy: String = "labelprop"): DataFrame =
    dedupByClusters(docs, nearDupPairs(docs, threshold),
      strategy = strategy)

  // ---------------------------- persisted minhash index (incremental dedup)

  /** Shared write discipline for the three on-disk index families
    * (minhash bands, chunk hashes, Hamming pieces): validate the mode,
    * run the append-compatibility check, invalidate stale params FIRST
    * on overwrite (an overwrite of an EXISTING index must never leave
    * OLD params next to NEW data after a mid-write crash — probes would
    * accept the mismatch instead of refusing), write the data, then
    * write params LAST. Params are (re)written on append too: families
    * whose params carry data-dependent fields (the chunk index's
    * max_doc_id) refresh them; constant params rewrite identically,
    * which is harmless. A crash DURING an append is the one window the
    * params guard cannot close (the batch's data rows may already be
    * in place under the old params): for the constant-params families
    * that state is benign (duplicate data rows change no probe answer —
    * re-run the append), but the chunk index's stale LOWER max_doc_id
    * is NOT conservative — its crashed batch's chunks are already in
    * `chunks/`, so a later batch with ids between the stale watermark
    * and the crashed batch's ids would pass the monotone-id check yet
    * diverge from the full-run equality. The append contract is
    * therefore: a crashed append MUST be retried with the SAME batch
    * (idempotent — duplicate hash rows are the documented harmless
    * price) before any probe or further append is run.
    */
  private[operators] def writeIndexScaffold(spark: SparkSession, dir: String,
      mode: String)(checkAppend: => Unit)(writeData: => Unit)(
      params: => DataFrame): Unit = {
    require(mode == "overwrite" || mode == "append",
      s"mode must be 'overwrite' or 'append', got '$mode'")
    if (mode == "append") checkAppend
    else {
      val paramsPath = new org.apache.hadoop.fs.Path(s"$dir/params")
      val fs = paramsPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (fs.exists(paramsPath)) fs.delete(paramsPath, true)
    }
    writeData
    params.write.mode("overwrite").parquet(s"$dir/params")
  }

  // probe-side schemas declared explicitly: schema inference would die
  // with an unrelated "unable to infer schema" error on an index built
  // over an EMPTY corpus (partitionBy writes no part files), and costs
  // a footer-listing pass per probe besides
  import org.apache.spark.sql.types._
  private val bandsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band_id", IntegerType),
    StructField("band_hash", LongType), StructField("bucket", IntegerType)))
  private val shinglesSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sh", ArrayType(LongType))))
  private val bucketedShinglesSchema = StructType(
    shinglesSchema.fields :+ StructField("bucket", IntegerType))
  private val chunksSchema = StructType(Seq(
    StructField("ch", StringType), StructField("bucket", IntegerType)))
  // the BM25 retrieval family's datasets (written by
  // [[Retrieval.writeBm25Index]], compacted/reported here)
  private[operators] val bm25PostingsSchema = StructType(Seq(
    StructField("token", StringType), StructField("doc_id", LongType),
    StructField("tf", LongType), StructField("bucket", IntegerType)))
  private[operators] val bm25DoclenSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("dl", LongType),
    StructField("dbucket", IntegerType)))
  private val piecesSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("simhash", LongType),
    StructField("q", IntegerType), StructField("qh", LongType),
    StructField("bucket", IntegerType)))
  private val benchHashesSchema = StructType(Seq(
    StructField("h", LongType), StructField("bucket", IntegerType)))
  private val postingsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("n", IntegerType),
    StructField("h", LongType), StructField("bucket", IntegerType)))

  /** The ONE way an against-index probe opens a bucket-partitioned
    * index dataset: only the partition directories the probe names are
    * listed and read, so file DISCOVERY, not just the scan, is ∝ the
    * probe's bucket footprint — and it runs on the driver, with no
    * Spark job however many buckets the probe names.
    *
    * `spark.read.parquet(root)` discovers partitions by listing every
    * `bucket=` directory under `root`, and past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths
    * it does so with a distributed job of one task per directory — a
    * 256-task job on every one-document lookup against the default band
    * buckets, and one per probed family on a weekly batch that names
    * most buckets. Here the driver lists `root` once (one Hadoop
    * `listStatus`), keeps the `<part>=<int>` directories whose value the
    * probe's `keys` name, lists each of those once more for its data
    * files, and builds the relation from those files
    * ([[ListedParquet.read]]: the relation a `basePath = root`
    * `DataFrameReader` read builds, with no second listing and no
    * 32-path threshold): `part` stays a partition column, so the probe
    * join's dynamic partition pruning filter still plants. Entries that
    * are not `<part>=<int>` directories (`_LEASE`, `_temporary`,
    * `params`, stray files) are never read as buckets, nor are the
    * names Spark's listing skips inside a named bucket (`.crc`,
    * `_SUCCESS`, `_temporary`, other `_`/`.` names). No named bucket on
    * disk → an empty frame of the same schema.
    *
    * `keys` (any frame with an int `part` column) is read twice — here
    * for its distinct values and again by the caller's join — so
    * callers pass MATERIALIZED key rows ([[Barriers.barrier]], or a
    * cheap projection of one) and plant their DPP marker predicate
    * AFTER the barrier, where the pruning rule can see it. `schema`
    * None takes the columns from one listed file's footer (the IVF
    * `cells/` layout, which carries whatever columns the corpus had). A
    * missing root, or an inferred schema with no file on disk, reads
    * through `DataFrameReader` as before, failing the way a whole-root
    * read fails.
    */
  private[operators] def probedBuckets(spark: SparkSession, root: String,
      schema: Option[StructType], keys: DataFrame,
      part: String = "bucket"): DataFrame = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def reader(base: Boolean) = {
      val r = schema.fold(spark.read)(spark.read.schema)
      if (base) r.option("basePath", root) else r
    }
    def read(dirs: Seq[Path]) = ListedParquet.read(spark, root, dirs, schema)
      .getOrElse(reader(base = true).parquet(dirs.map(_.toString): _*))
    val prefix = s"$part="
    val rootExists = fs.exists(rootPath)
    val onDisk: Map[Int, Path] =
      if (!rootExists) Map.empty
      else fs.listStatus(rootPath).iterator
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
        .flatMap(s => s.getPath.getName.drop(prefix.length).toIntOption
          .map(_ -> s.getPath))
        .toMap
    val dirs = keys.select(col(part)).distinct().collect()
      .filterNot(_.isNullAt(0)).flatMap(r => onDisk.get(r.getInt(0)))
      .sortBy(_.toString)
    if (dirs.nonEmpty) read(dirs.toSeq)
    else (schema, onDisk.values.headOption) match {
      case (Some(s), _) if rootExists => spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), s)
      case (None, Some(p)) => read(Seq(p)).where(lit(false))
      case _ => reader(base = false).parquet(root)
    }
  }

  /** The shingles/ partition expression: doc-id hash buckets, INT like
    * every other index partition column (a cast on the partition
    * attribute defeats dynamic partition pruning — see
    * [[writeMinhashIndex]]'s bucket comment). */
  private def shingleBucket(n: Int)(id: Column): Column =
    pmod(id, lit(n.toLong)).cast("int")

  /** Stored shingles/ layout of a minhash/containment index: Some(n) =
    * PARTITIONED BY `bucket = pmod(doc_id, n)` (every index written
    * since the bucketed layout), None = the legacy flat layout. Kept
    * OUTSIDE the families' positional param tuples so legacy indexes
    * keep probing and appending unmigrated; [[migrateShingleBuckets]]
    * is the explicit upgrade. */
  private[graft] def readShingleBuckets(spark: SparkSession,
      dir: String): Option[Int] = {
    val p = spark.read.parquet(s"$dir/params")
    if (p.schema.fieldNames.contains("shingle_buckets"))
      Some(p.head().getAs[Int]("shingle_buckets"))
    else None
  }

  /** Write a (doc_id, sh) frame as an index's shingles/ sub-dataset in
    * the layout `buckets` names (Some = bucket-partitioned, None =
    * legacy flat — appends onto a legacy index must keep its layout).
    *
    * Crashed-RE-bucket guard: [[migrateShingleBuckets]]'s crash window
    * leaves params demoted to flat while the data on disk is still
    * bucket-partitioned. READS handle that state (the flat readers
    * project (doc_id, sh), dropping the discovered partition column),
    * but a flat APPEND into it would lay flat part files at the
    * shingles/ root next to `bucket=` dirs — and Spark then refuses
    * every later read (conflicting directory structures), including
    * the migration re-run that would have repaired the index. Refuse
    * the append instead, naming the repair.
    */
  private def writeShingles(sh: DataFrame, dir: String, mode: String,
      buckets: Option[Int]): Unit = buckets match {
    case Some(n) => sh
      .withColumn("bucket", shingleBucket(n)(col("doc_id")))
      .write.mode(mode).partitionBy("bucket").parquet(s"$dir/shingles")
    case None =>
      if (mode == "append") {
        val p = new org.apache.hadoop.fs.Path(s"$dir/shingles")
        val fs = p.getFileSystem(
          sh.sparkSession.sparkContext.hadoopConfiguration)
        val bucketed = fs.exists(p) && fs.listStatus(p).exists(e =>
          e.isDirectory && e.getPath.getName.startsWith("bucket="))
        require(!bucketed,
          s"$dir/shingles holds bucket= partition dirs but the stored " +
            "params say flat — a crashed re-bucket migration; a flat " +
            "append would make the dataset unreadable (mixed directory " +
            "structures). Re-run migrateShingleBuckets to complete the " +
            "migration first")
      }
      sh.write.mode(mode).parquet(s"$dir/shingles")
  }

  /** The whole shingles/ sub-dataset as (doc_id, sh), either layout —
    * the all-pairs surfaces' read. The flat path projects explicitly:
    * a crashed migration's bucketed-data-under-flat-params state reads
    * through here too, and the discovered partition column would
    * otherwise ride along as an extra column (Spark APPENDS partition
    * columns missing from an explicit schema). */
  private def readIndexShingles(spark: SparkSession,
      dir: String): DataFrame =
    readIndexShingles(spark, dir, readShingleBuckets(spark, dir))

  private def readIndexShingles(spark: SparkSession, dir: String,
      buckets: Option[Int]): DataFrame = buckets match {
    case Some(_) => spark.read.schema(bucketedShinglesSchema)
      .parquet(s"$dir/shingles").select(col("doc_id"), col("sh"))
    case None =>
      spark.read.schema(shinglesSchema).parquet(s"$dir/shingles")
        .select(col("doc_id"), col("sh"))
  }

  /** shingles/ rows for the `involved` ids only, as (doc_id, sh): on
    * the bucketed layout the broadcast semi-join carries the derived
    * partition bucket, so dynamic partition pruning restricts the scan
    * to the buckets the candidate ids actually name (file IO ∝
    * candidates — the bands/ probe economics applied to the verify
    * side); the legacy flat layout keeps its full-scan semi-join.
    * `buckets` is the caller's already-read layout — the probe
    * surfaces read params/ exactly once per call. `involved` derives
    * from the caller's barrier'd candidates, so the bucket list and the
    * join below both read that materialized copy. */
  private def prunedIndexShingles(spark: SparkSession, dir: String,
      involved: DataFrame, buckets: Option[Int]): DataFrame =
    buckets match {
      case Some(n) =>
        val keys = involved
          .withColumn("bucket", shingleBucket(n)(col("doc_id")))
        // vacuously-true binary comparison marking the probe side
        // likely-selective so dynamic partition pruning fires (the
        // bands/ probe's device)
        val probe = keys.where(col("doc_id") >= lit(Long.MinValue))
        probedBuckets(spark, s"$dir/shingles",
            Some(bucketedShinglesSchema), keys)
          .join(broadcast(probe), Seq("bucket", "doc_id"), "left_semi")
          .select(col("doc_id"), col("sh"))
      case None => spark.read.schema(shinglesSchema)
        .parquet(s"$dir/shingles")
        // project before the join: see [[readIndexShingles]] on the
        // crashed-migration state's appended partition column
        .select(col("doc_id"), col("sh"))
        .join(broadcast(involved), Seq("doc_id"), "left_semi")
    }

  /** Materialize the corpus' near-dup signatures as an on-disk index under
    * `dir` — the [[Similarity.writeIvfIndex]] pattern applied to text
    * near-dup, for the weekly-refresh regime: index the corpus ONCE, then
    * dedup each NEW batch against the index ([[nearDupAgainstIndex]]) and
    * fold the batch in (`mode = "append"`), instead of recomputing every
    * signature corpus-wide per batch. Layout:
    *
    *   - `bands/`: (doc_id, band_id, band_hash) parquet PARTITIONED BY
    *     `bucket = pmod(band_hash, bandBuckets)` — the candidate-join
    *     side. A probe keys on the partition column, so a small batch's
    *     scan reads only the bucket partitions it actually names
    *     (dynamic partition pruning, PlanSpec-pinned).
    *   - `shingles/`: (doc_id, sh) sorted distinct shingle hashes — the
    *     exact-verify side, read only for docs in a candidate pair,
    *     PARTITIONED BY `bucket = pmod(doc_id, shingleBuckets)` so the
    *     verify read prunes to the candidate ids' buckets AND deletion
    *     ([[deleteFromIndex]]) rewrites only the retracted ids' buckets
    *     instead of the whole sub-dataset (indexes written before this
    *     layout stay readable flat — [[migrateShingleBuckets]] upgrades
    *     them in place).
    *   - `params/`: ONE row of signature parameters. Probes read these
    *     back instead of trusting caller arguments: signatures computed
    *     under different (shingle words, hashes, bands, buckets) are
    *     incomparable, and a silent mismatch would yield garbage
    *     candidates instead of an error. Deleted FIRST and written LAST
    *     on overwrite, so a crash anywhere mid-write leaves an index
    *     probes refuse (no params) rather than one that half-answers —
    *     stale params can never vouch for new data
    *     ([[writeIndexScaffold]], the discipline all families share).
    *
    * Doc ids must be globally unique across indexed and probed batches —
    * the contract every pair surface here already assumes.
    *
    * SIZING `bandBuckets` — when does the pruned probe pay? A probe
    * lists and scans only the batch's DISTINCT band buckets
    * ([[probedBuckets]]: file discovery, not just the scan, is ∝ the
    * named buckets — a one-document lookup lists 8 directories, not
    * 256 — and runs on the driver, one `listStatus` per named
    * directory, with no Spark job and no 32-path threshold), so
    * pruning pays exactly when `batch docs × bands` (the batch's band
    * rows, each naming one bucket) is comfortably below `bandBuckets`;
    * past that point every bucket is named and the probe lists and
    * reads the whole index once regardless.
    * Measured at sf1 (docs/BENCH_SF1.md, round-9 appendix): a 520-doc
    * batch × 8 bands hits all 256 default buckets — zero pruning, the
    * 6.7 s probe is still 1.7× under the full re-run purely on compute,
    * and a 10×-smaller batch (or `bandBuckets = 4096`) reads
    * proportionally less. The ceiling: each append lays up to one
    * file per named bucket, so buckets far above the per-batch band
    * count buy pruning at small-file-write cost ([[compactIndex]]
    * repacks, but between compactions probe IO is file-count-bound —
    * the q89 bench runs 32 buckets at test scale for exactly this
    * reason). Rule of thumb: `bandBuckets` ≈ a few × the LARGEST
    * expected batch's `docs × bands`, then let compaction own the
    * long tail.
    */
  def writeMinhashIndex(docs: DataFrame, dir: String,
      numShingleWords: Int = 3, numHashes: Int = 32, bands: Int = 8,
      bandBuckets: Int = 256, shingleBuckets: Int = 64,
      mode: String = "overwrite"): Unit = {
    require(bandBuckets > 0, s"bandBuckets must be > 0, got $bandBuckets")
    require(shingleBuckets > 0,
      s"shingleBuckets must be > 0, got $shingleBuckets")
    val spark = docs.sparkSession
    val asked = (numShingleWords, numHashes, bands, bandBuckets)
    // appends take the shingles/ LAYOUT from the index, not the caller
    // (pure layout, not signature geometry — a legacy flat index keeps
    // appending flat until migrated, a bucketed one keeps its count)
    val effSb = if (mode == "append") readShingleBuckets(spark, dir)
      else Some(shingleBuckets)
    writeIndexScaffold(spark, dir, mode) {
      val p = readMinhashIndexParams(spark, dir)
      require(p == asked,
        s"append with params $asked onto an index written with $p")
    } {
      // APPEND keeps shingles BEFORE bands: candidates come only from
      // bands/, so a crash here leaves extra shingle rows nothing
      // references (harmless) rather than band rows whose verify-side
      // arrays are missing (the inner join would silently drop those
      // pairs); the standing params stays valid during an append, so
      // probes CAN run mid-write. On OVERWRITE the scaffold deleted
      // params first and rewrites it last — no probe accepts the
      // half-built layout — so the two independent writes overlap
      // (Par, guide §2.6).
      def shinglesW(): Unit = writeShingles(
        shingleHashArrays(docs, numShingleWords), dir, mode, effSb)
      def bandsW(): Unit = lshBands(docs, numShingleWords, numHashes,
          bands)
        // INT bucket on both the written and the probe side: the
        // partition directory value is inferred back as int, and a type
        // mismatch would wrap the partition attribute in a cast at the
        // probe join — which defeats dynamic partition pruning (the
        // pruning rule keys on the bare partition column)
        .withColumn("bucket",
          pmod(col("band_hash"), lit(bandBuckets.toLong)).cast("int"))
        .write.mode(mode).partitionBy("bucket").parquet(s"$dir/bands")
      if (mode == "append") { shinglesW(); bandsW() }
      else Par.run(2)(Seq(() => shinglesW(), () => bandsW()))
    } {
      val base = docs.sparkSession.range(1).select(
        lit(numShingleWords).as("num_shingle_words"),
        lit(numHashes).as("num_hashes"),
        lit(bands).as("bands"),
        lit(bandBuckets).as("band_buckets"))
      // legacy flat indexes must stay recognizably flat on append —
      // the column's absence IS the layout marker
      effSb.fold(base)(n => base.withColumn("shingle_buckets", lit(n)))
    }
  }

  // private[graft]: the streaming bridge appends each micro-batch's
  // survivors under the index's own stored signature params
  private[graft] def readMinhashIndexParams(spark: SparkSession,
      dir: String): (Int, Int, Int, Int) =
    readMinhashParamsAndLayout(spark, dir)._1

  /** ONE params/ read serving both the signature tuple and the
    * shingles/ layout, cached per JVM on the params/ stamp
    * ([[IndexMeta.cached]]) — a repeated probe runs no params job, and
    * an append (which rewrites params/) re-stamps the entry. */
  private def readMinhashParamsAndLayout(spark: SparkSession,
      dir: String): ((Int, Int, Int, Int), Option[Int]) =
    IndexMeta.cached(spark, "minhash-params", dir) {
      val df = spark.read.parquet(s"$dir/params")
      val hasSb = df.schema.fieldNames.contains("shingle_buckets")
      val r = df.head()
      ((r.getAs[Int]("num_shingle_words"), r.getAs[Int]("num_hashes"),
        r.getAs[Int]("bands"), r.getAs[Int]("band_buckets")),
        if (hasSb) Some(r.getAs[Int]("shingle_buckets")) else None)
    }

  /** Candidate near-dup pairs between a NEW batch and the indexed corpus:
    * the batch's bands (map-only, computed with the INDEX's own stored
    * parameters) equi-joined against `bands/` on (bucket, band_id,
    * band_hash). Only CROSS pairs (one side new, one side indexed) come
    * out — within-batch pairs are [[minhashCandidates]]' job, so
    * incremental near-dup over arriving batches is
    * `nearDupAgainstIndex(batch, index) ∪ nearDupPairs(batch)`, and it
    * equals the full-corpus run restricted to pairs touching the batch
    * PAIR-BY-PAIR: whether two docs share a band bucket is a pure
    * function of their own two signatures, independent of every other
    * doc (DedupSpec proves the equality bit-exactly, scores included).
    *
    * `broadcastProbe = true` (the weekly-refresh shape: batch ≪ index)
    * broadcasts the batch bands; the join then keys on the index's
    * partition column and dynamic partition pruning restricts the
    * `bands/` scan to the buckets the batch names — the
    * [[Similarity.ivfTopKIndexed]] probe machinery. Set it false for a
    * batch too large to broadcast: the join degrades to a plain hash
    * shuffle on the band key — still ∝ matching bands, never all-pairs,
    * just without the pruned scan.
    */
  def minhashCandidatesAgainstIndex(spark: SparkSession,
      newDocs: DataFrame, dir: String,
      broadcastProbe: Boolean = true,
      maxBandFreq: Long = 0L): DataFrame =
    minhashCandidatesAgainstIndexWith(spark, newDocs, dir,
      readMinhashIndexParams(spark, dir), broadcastProbe, maxBandFreq)

  /** [[minhashCandidatesAgainstIndex]] with the stored params already
    * in hand — the composed probes read params/ once and thread the
    * tuple through. `maxBandFreq > 0` applies [[minhashCandidates]]'
    * hot-band cap to the INDEX side: a band bucket holding more than
    * `maxBandFreq` INDEXED docs (df counted over the pruned matched
    * scan — at the documented duplicate-row price of uncompacted
    * appends) is skipped, so one indexed template family cannot make
    * every future batch's probe pay its membership; skipped buckets
    * surface through [[minhashHotBandsAgainstIndex]]. 0 = off,
    * bit-identical single-join plan. */
  private def minhashCandidatesAgainstIndexWith(spark: SparkSession,
      newDocs: DataFrame, dir: String, params: (Int, Int, Int, Int),
      broadcastProbe: Boolean, maxBandFreq: Long = 0L): DataFrame = {
    val newBands = probeBands(newDocs, params)
      .withColumnRenamed("doc_id", "new_id")
    val bands = probedBuckets(spark, s"$dir/bands", Some(bandsSchema),
      newBands)
    // the band_id >= 0 predicate is vacuously true (posexplode
    // positions) but load-bearing: Spark's PartitionPruning rule only
    // plants a dynamic pruning subquery when the filtering side carries
    // a likely-SELECTIVE predicate (a binary comparison — IsNotNull does
    // not qualify), and the probe side IS selective by contract (batch ≪
    // index); without it the bands/ scan reads every named bucket
    val probe =
      if (broadcastProbe) broadcast(newBands.where(col("band_id") >= 0))
      else newBands
    val idxKept =
      if (maxBandFreq <= 0L)
        // cap off: the bands/ scan flows straight into the pair join —
        // the single-join plan every existing probe pins (q32/q89)
        bands
      else {
        // cap on: materialize the PRUNED matched rows once (the df
        // aggregate and the pair join both read them — without the
        // barrier the scan runs twice), then drop over-cap band keys.
        // The count is index-side df restricted to the probed keys —
        // ∝ matches, rows already in hand, never the index.
        val m = Barriers.barrier(
          matchedIndexBands(bands, probe, broadcastProbe))
        m.join(
          m.groupBy(col("bucket"), col("band_id"), col("band_hash"))
            .agg(count(lit(1)).as("df"))
            .where(col("df") <= maxBandFreq)
            .select(col("bucket"), col("band_id"), col("band_hash")),
          Seq("bucket", "band_id", "band_hash"), "left_semi")
      }
    idxKept
      .join(probe, Seq("bucket", "band_id", "band_hash"))
      // ids are globally unique by contract; a violation must not
      // surface as a self-pair
      .where(col("doc_id") =!= col("new_id"))
      .select(least(col("doc_id"), col("new_id")).as("id_a"),
        greatest(col("doc_id"), col("new_id")).as("id_b"))
      .distinct()
  }

  /** A batch's band rows under the index's stored `params`, with the
    * `bands/` partition bucket, MATERIALIZED once: the probe's bucket
    * list ([[probedBuckets]]) and its join both read this copy, so a
    * batch's bands are computed once per probe. */
  private def probeBands(newDocs: DataFrame,
      params: (Int, Int, Int, Int)): DataFrame = {
    val (nsw, nh, nb, buckets) = params
    Barriers.barrier(lshBands(newDocs, nsw, nh, nb)
      // int, matching the inferred partition column type — see
      // [[writeMinhashIndex]]'s bucket comment (a cast on the partition
      // attribute would defeat partition pruning)
      .withColumn("bucket",
        pmod(col("band_hash"), lit(buckets.toLong)).cast("int")))
  }

  /** The `bands/` rows (opened by [[probedBuckets]]) matching a probe's
    * band keys — the pruned scan every against-index candidate surface
    * starts from. */
  private def matchedIndexBands(bands: DataFrame, probe: DataFrame,
      broadcastProbe: Boolean): DataFrame = {
    val keys0 = probe
      .select(col("bucket"), col("band_id"), col("band_hash")).distinct()
    val keys = if (broadcastProbe) broadcast(keys0) else keys0
    bands.join(keys, Seq("bucket", "band_id", "band_hash"), "left_semi")
  }

  /** [[minhashHotBands]] for the against-index probe: the matched band
    * buckets whose INDEX membership exceeds `maxBandFreq` — what the
    * capped probe skipped for THIS batch, with the index-side df (over
    * the pruned scan; uncompacted append duplicates count, as the cap
    * itself counts them). The disclosure surface for the incremental
    * regime's audit trail.
    */
  def minhashHotBandsAgainstIndex(spark: SparkSession,
      newDocs: DataFrame, dir: String, maxBandFreq: Long = 1000L,
      broadcastProbe: Boolean = true): DataFrame = {
    val newBands0 = probeBands(newDocs, readMinhashIndexParams(spark, dir))
    val newBands = newBands0
      .where(col("band_id") >= 0) // the DPP predicate, as in the probe
    matchedIndexBands(
        probedBuckets(spark, s"$dir/bands", Some(bandsSchema), newBands0),
        if (broadcastProbe) broadcast(newBands) else newBands,
        broadcastProbe)
      .groupBy(col("bucket"), col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") > maxBandFreq)
  }

  /** Verified near-dup pairs (exact n-gram Jaccard ≥ `threshold`) between
    * a new batch and the indexed corpus — the incremental scale path:
    * [[minhashCandidatesAgainstIndex]] candidates, then the exact
    * [[scoredVerifyWith]] merge with the INDEX side's shingle arrays READ
    * from `shingles/` (the indexed corpus' text is not even an input) and
    * the new side's computed batch-locally. Same [[jaccardScore]]
    * arithmetic as every other Jaccard surface, so incremental ∪
    * within-batch ≡ full-run (restricted to pairs touching the batch)
    * holds bit-exactly — DedupSpec proves it, q90's DuckDB oracle proves
    * the `shingles/` round-trip.
    */
  def nearDupAgainstIndex(spark: SparkSession, newDocs: DataFrame,
      dir: String, threshold: Double = 0.7,
      broadcastProbe: Boolean = true,
      maxBandFreq: Long = 0L): DataFrame = {
    val (params @ (nsw, _, _, _), shLayout) =
      readMinhashParamsAndLayout(spark, dir)
    // materialized once: the involved-ids pruning AND the verify join
    // both consume the candidate set
    val candidates = Barriers.barrier(
      minhashCandidatesAgainstIndexWith(spark, newDocs, dir, params,
        broadcastProbe, maxBandFreq))
    val involved = involvedIds(candidates)
    val newSh = shingleHashArrays(
      newDocs.join(broadcast(involved), Seq("doc_id"), "left_semi"), nsw)
    val idxSh = prunedIndexShingles(spark, dir, involved, shLayout)
    scoredVerifyWith(newSh.unionByName(idxSh), candidates, threshold,
      "jaccard", jaccardScore)
  }

  /** Exact all-pairs Jaccard between a new batch and the indexed corpus'
    * STORED shingle arrays — the [[jaccardAllPairs]] oracle-baseline
    * contract extended to the persisted layout: O(|batch|·|index|) pairs
    * by construction, cap both sides like every all-pairs baseline. Its
    * scores must be bit-identical to an inline [[jaccardAllPairs]] run
    * restricted to cross pairs (same [[jaccardScore]], same sorted-merge
    * kernel), which is exactly what q90's DuckDB oracle hash-checks —
    * proving the `shingles/` parquet round-trip end-to-end.
    */
  def jaccardAllPairsAgainstIndex(spark: SparkSession, newDocs: DataFrame,
      dir: String, threshold: Double = 0.5): DataFrame = {
    val ((nsw, _, _, _), shLayout) =
      readMinhashParamsAndLayout(spark, dir)
    val newSh = Barriers.barrier(
      shingleHashArrays(newDocs, nsw).where(size(col("sh")) > 0))
      .select(col("doc_id").as("id_n"), col("sh").as("sh_a"))
    val idxSh = readIndexShingles(spark, dir, shLayout)
      .where(size(col("sh")) > 0)
      .select(col("doc_id").as("id_i"), col("sh").as("sh_b"))
    newSh.join(idxSh, col("id_n") =!= col("id_i"))
      .withColumn("n_inter",
        native.sorted_intersect_count(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", jaccardScore(col("n_inter")))
      .where(col("jaccard") >= threshold)
      .select(least(col("id_n"), col("id_i")).as("id_a"),
        greatest(col("id_n"), col("id_i")).as("id_b"), col("jaccard"))
  }

  /** Benchmark decontamination, pass-through form: for each document,
    * how many of its distinct n-gram shingles also occur in a
    * benchmark/eval set — the screen run before training so eval data
    * is not memorized (the overlap-based contamination definition used
    * by LLM training pipelines).
    *
    * Scale design, broadcast flavor (the default — eval sets are KB-MB
    * of n-grams): the benchmark's distinct shingle hashes collapse into
    * ONE sorted array, so screening the corpus is a MAP-ONLY pass: one
    * broadcast, one linear merge ([[graft.functions
    * .SortedIntersectCountExpr]]) per document, no shuffle of the 100 TB
    * side. A benchmark above `maxBroadcastShingles` distinct shingles
    * switches to the shuffle flavor: ONE pass over the corpus —
    * explode + left join keyed by shingle hash + per-doc count — whose
    * shuffle is ∝ corpus shingles, never all-pairs. Both flavors return
    * identical rows.
    *
    * This form is for pipeline
    * composition ([[CorpusPrep.prepare]]): `docs` plus the three
    * columns, ALL original columns retained, so a downstream stage
    * filters without an extra corpus pass (the shuffle flavor pays one
    * corpus-wide join-back for it — the disclosed price of a benchmark
    * too large to broadcast). [[contaminationScreen]] is the
    * (doc_id, counts, frac) report projection of this function.
    */
  def withContamination(docs: DataFrame, benchmark: DataFrame,
      numShingleWords: Int = 3,
      maxBroadcastShingles: Long = 8L * 1000 * 1000): DataFrame = {
    // checkpoint barrier: without it the optimizer inlines the shingle
    // kernel into the explode's pushed-down filter and evaluates it 3×
    // per benchmark row. The benchmark is the small side by contract,
    // so materializing it is free; the CORPUS side needs no barrier.
    // LAZY checkpoint + count = ONE setup job: the flavor-selection
    // count() below is the first action, so its first stage both
    // computes AND persists the checkpoint blocks (an eager
    // localCheckpoint would spend a separate job on materialization
    // first). NO cache on the distinct hash set: the chosen flavor
    // re-derives the distinct from the CHECKPOINTED shingle arrays at
    // action time — a small recompute (the benchmark is
    // eval-set-sized by contract) where a persist would pin an
    // executor cache that nothing in this function's lifetime can
    // safely release (the consumer acts after return), accumulating
    // across repeated screen calls (commit history: tried and
    // reverted).
    val benchHashes = shingleHashArrays(benchmark, numShingleWords)
      .localCheckpoint(eager = false)
      .select(explode(col("sh")).as("h"))
      .distinct()
    if (benchHashes.count() <= maxBroadcastShingles)
      contaminationCols(docs, benchHashes, numShingleWords)
    else {
      // shuffle fallback: count total and contaminated shingles in one
      // exploded pass (count(__hit) over a LEFT join ≡ the merge-kernel
      // intersection count, since both sides' hashes are distinct),
      // then join the counts back onto the corpus — zero-shingle docs
      // the explode dropped coalesce to (0, 0, 0.0)
      val counted = shingleHashArrays(docs, numShingleWords)
        .select(col("doc_id"), explode(col("sh")).as("h"))
        .join(benchHashes.withColumn("__hit", lit(1)), Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          count(col("__hit")).as("n_contaminated"))
      docs.join(counted, Seq("doc_id"), "left")
        .withColumn("n_shingles", coalesce(col("n_shingles"), lit(0L)))
        .withColumn("n_contaminated",
          coalesce(col("n_contaminated"), lit(0L)))
        .withColumn("contaminated_frac",
          when(col("n_shingles") === 0, lit(0.0))
            .otherwise(col("n_contaminated").cast("double") /
              col("n_shingles")))
    }
  }

  /** docs + the three contamination columns via the broadcast
    * one-array merge — shared by [[withContamination]] and
    * [[contaminationScreen]]'s broadcast flavor so the arithmetic
    * lives once. NULL-text docs report (0, 0, 0.0) via the coalesce,
    * matching the shuffle flavor.
    */
  private def contaminationCols(docs: DataFrame, benchHashes: DataFrame,
      numShingleWords: Int): DataFrame = {
    val bench = benchHashes
      .agg(array_sort(collect_list(col("h"))).as("__bench"))
    val shCol = coalesce(
      native.shingle_hashes_sorted(
        filter(split(normalized(col("text")), " "), t => t =!= lit("")),
        numShingleWords),
      typedLit(Array.empty[Long]))
    docs
      .crossJoin(broadcast(bench))
      .withColumn("__sh", shCol)
      .withColumn("n_shingles", size(col("__sh")).cast("long"))
      .withColumn("n_contaminated",
        native.sorted_intersect_count(col("__sh"), col("__bench"))
          .cast("long"))
      .withColumn("contaminated_frac",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(col("n_contaminated").cast("double") /
            col("n_shingles")))
      .drop("__sh", "__bench")
  }

  /** The decontamination REPORT: (doc_id, n_shingles, n_contaminated,
    * contaminated_frac) — [[withContamination]]'s columns without the
    * corpus pass-through. Same flavors, same rows (DedupSpec).
    */
  def contaminationScreen(docs: DataFrame, benchmark: DataFrame,
      numShingleWords: Int = 3,
      maxBroadcastShingles: Long = 8L * 1000 * 1000): DataFrame =
    withContamination(docs, benchmark, numShingleWords,
        maxBroadcastShingles)
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        col("contaminated_frac"))

  // ----------------------- persisted benchmark (decontamination) index

  /** Materialize a benchmark/eval suite's distinct n-gram shingle
    * hashes as an on-disk index under `dir` — the persisted-index
    * regime applied to DECONTAMINATION, the sixth written family. Eval
    * suites are long-lived and change rarely while training batches
    * arrive weekly, so the right lifecycle shape is: shingle the
    * benchmark ONCE, screen each batch against the stored hashes
    * ([[contaminationScreenAgainstIndex]]), and fold newly-adopted eval
    * sets in as they appear (`mode = "append"` — params must match).
    * Layout, the [[writeMinhashIndex]] discipline throughout:
    *
    *   - `hashes/`: the suite's DISTINCT shingle hashes, PARTITIONED BY
    *     `bucket = pmod(h, hashBuckets)` — a probe prunes the scan to
    *     the buckets the batch's own shingles name (dynamic partition
    *     pruning, PlanSpec-pinned like every probe family).
    *   - `params/`: one row (num_shingle_words, hash_buckets), deleted
    *     first / written last ([[writeIndexScaffold]]) so a crashed
    *     write leaves an index probes refuse, never stale params
    *     vouching for half-written data. Appends re-distinct only
    *     within the batch; a hash present in two appended suites sits
    *     in `hashes/` twice — harmless to every probe answer (the
    *     matched set distinct-collapses) and [[compactIndex]]'s to
    *     reclaim.
    *
    * When does the index pay over [[contaminationScreen]]? The inline
    * screen re-shingles and re-collects the benchmark on EVERY call —
    * fine for one KB-MB eval set, wrong for a full eval-plus-holdout
    * collection screened weekly; the index pays the shingling once and
    * each probe touches ∝ the batch's bucket footprint. Measured
    * (docs/BENCH_SF1.md round-11 appendix, `graft.ScreenBench`): at a
    * 5k-doc suite the inline screen still wins (1.8 vs 2.7 s — the
    * probe's plan floor exceeds the saved shingling); at 51k docs the
    * index is 1.27× faster per batch and FLAT in suite size (2.9 s)
    * while the inline screen scales with the suite (3.7 s and growing
    * linearly). Pruning itself follows the [[writeMinhashIndex]]
    * sizing rule: it pays while the batch's distinct-shingle count is
    * comfortably below `hashBuckets` (a big batch names every bucket
    * and the probe degrades to one full index scan — still never
    * all-pairs, and still no benchmark re-shingle).
    */
  def writeBenchmarkIndex(benchmark: DataFrame, dir: String,
      numShingleWords: Int = 3, hashBuckets: Int = 256,
      mode: String = "overwrite"): Unit = {
    require(hashBuckets > 0, s"hashBuckets must be > 0, got $hashBuckets")
    val spark = benchmark.sparkSession
    val asked = (numShingleWords, hashBuckets)
    writeIndexScaffold(spark, dir, mode) {
      val p = readBenchmarkIndexParams(spark, dir)
      require(p == asked,
        s"append with params $asked onto an index written with $p")
    } {
      shingleHashArrays(benchmark, numShingleWords)
        .select(explode(col("sh")).as("h"))
        .distinct()
        // INT bucket, matching the inferred partition-column type — a
        // cast on the partition attribute at the probe join would
        // defeat dynamic partition pruning ([[writeMinhashIndex]])
        .withColumn("bucket",
          pmod(col("h"), lit(hashBuckets.toLong)).cast("int"))
        .write.mode(mode).partitionBy("bucket").parquet(s"$dir/hashes")
    } {
      spark.range(1).select(
        lit(numShingleWords).as("num_shingle_words"),
        lit(hashBuckets).as("hash_buckets"))
    }
  }

  private[graft] def readBenchmarkIndexParams(spark: SparkSession,
      dir: String): (Int, Int) =
    IndexMeta.cached(spark, "benchmark-params", dir) {
      val r = spark.read.parquet(s"$dir/params").head()
      (r.getAs[Int]("num_shingle_words"), r.getAs[Int]("hash_buckets"))
    }

  /** The decontamination REPORT ([[contaminationScreen]]'s exact
    * columns and rows) computed against a [[writeBenchmarkIndex]]
    * suite instead of an inline benchmark frame — the incremental
    * screen for the weekly regime. Shingles are computed with the
    * INDEX's own stored `num_shingle_words` (caller arguments cannot
    * silently mismatch the stored geometry), so the counts are
    * bit-identical to `contaminationScreen(docs, benchmark)` over the
    * same suite — both flavors intersect the SAME xxhash64 shingle-hash
    * sets (DedupSpec proves the equality; the q101 DuckDB oracle proves
    * the `hashes/` round-trip end-to-end).
    *
    * Plan shape: the batch's shingle arrays materialize once (lineage
    * barrier — three consumers below would otherwise re-run the shingle
    * kernel per consumer), then (1) the batch's distinct hashes
    * semi-join the pruned `hashes/` scan — out comes the matched-hash
    * set, at most the batch's own distinct-shingle count, never the
    * index size, duplicate-row-safe under appends; (2) the exploded
    * batch shingles semi-join that matched set for per-doc hit counts;
    * (3) `n_shingles` is a map-only projection of the array size.
    * Zero-shingle docs (null/empty text) report (0, 0, 0.0) exactly as
    * both inline flavors do.
    *
    * `broadcastProbe = false` for a batch too large to broadcast: both
    * small-side joins degrade to hash shuffles keyed on the hash —
    * still ∝ batch + matching rows — at the cost of the pruned scan
    * (the same trade as every probe family's flag).
    */
  def contaminationScreenAgainstIndex(spark: SparkSession,
      docs: DataFrame, dir: String,
      broadcastProbe: Boolean = true,
      params: Option[(Int, Int)] = None): DataFrame = {
    // params: the stored (num_shingle_words, hash_buckets) when the
    // caller already holds them (the streaming bridge's per-JVM cache
    // saves its per-trigger params read); None reads them here
    val (nsw, buckets) =
      params.getOrElse(readBenchmarkIndexParams(spark, dir))
    val sh = Barriers.barrier(
      shingleHashArrays(docs, nsw).select(col("doc_id"),
        coalesce(col("sh"), typedLit(Array.empty[Long])).as("sh")))
    // keys derive from the barrier'd arrays: the bucket list and the
    // probe join both read that copy
    val keys = sh.select(explode(col("sh")).as("h")).distinct()
      .withColumn("bucket", pmod(col("h"), lit(buckets.toLong)).cast("int"))
    // vacuously-true binary comparison marking the probe side
    // likely-selective so dynamic partition pruning fires — the
    // [[minhashCandidatesAgainstIndex]] predicate trick
    val probe0 = keys.where(col("h") >= lit(Long.MinValue))
    val probe = if (broadcastProbe) broadcast(probe0) else probe0
    val matched0 = probedBuckets(spark, s"$dir/hashes",
        Some(benchHashesSchema), keys)
      .join(probe, Seq("bucket", "h"), "left_semi")
      .select(col("h")).distinct()
    val matched = if (broadcastProbe) broadcast(matched0) else matched0
    val hits = sh.select(col("doc_id"), explode(col("sh")).as("h"))
      .join(matched, Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated"))
    sh.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_contaminated",
        coalesce(col("n_contaminated"), lit(0L)))
      .withColumn("contaminated_frac",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(col("n_contaminated").cast("double") /
            col("n_shingles")))
  }

  /** Delete a retracted eval set's content from a
    * [[writeBenchmarkIndex]] suite — the [[deleteFromChunkIndex]]
    * semantics applied to the benchmark family, which is likewise
    * content-addressed (hashes carry no provenance): the retracted
    * benchmark's (doc_id, text) rows are re-shingled under the index's
    * own stored `num_shingle_words` and exactly those hashes leave
    * `hashes/` (touched-bucket anti-join rewrite, [[deleteKeyedRows]]).
    * A removed hash SHARED with a still-standing eval set is removed
    * too — screening coverage for that n-gram lapses until the standing
    * set is re-appended (the same disclosed shared-content price as the
    * chunk family; the index stores no per-set ownership, the cost of
    * O(distinct shingles) size).
    */
  def deleteFromBenchmarkIndex(spark: SparkSession, dir: String,
      retracted: DataFrame): Unit = {
    val (nsw, _) = readBenchmarkIndexParams(spark, dir)
    val hashes = shingleHashArrays(retracted, nsw)
      .select(explode(col("sh")).as("h")).distinct()
    deleteKeyedRows(spark, s"$dir/hashes",
      spark.read.schema(benchHashesSchema).parquet(s"$dir/hashes"),
      "bucket", "h", hashes)
  }

  // ------------------- SEMANTIC (embedding-level) decontamination

  /** Semantic benchmark-contamination screen: for every corpus vector,
    * its similarity to the NEAREST eval-set vector — the embedding-level
    * complement of [[contaminationScreen]]'s n-gram overlap. Paraphrased
    * or translated eval leakage shares no n-grams with the benchmark;
    * its embedding still lands next to it, and this screen is how a
    * training pipeline catches that class before the n-gram report
    * declares the corpus clean.
    *
    * One report row PER CORPUS VECTOR: `(vec_id, max_cosine,
    * nearest_eval_id, contaminated)` — max cosine over the eval set,
    * the eval vector achieving it (ties → lowest eval_id), and the
    * `max_cosine >= threshold` verdict. An EMPTY eval set yields null
    * scores and `contaminated = false` (every row still reported — the
    * screen's completeness contract, like the n-gram report's
    * zero-shingle rows).
    *
    * Scale: the eval set is broadcast (eval suites are metadata-sized
    * next to a training corpus — the [[contaminationScreen]] contract);
    * the corpus side is ONE pass, map-expanded by |eval| then collapsed
    * by a partial max BEFORE the only exchange, which carries one row
    * per corpus vector. Exact by construction — the kernel's
    * fixed-order fold makes every score engine-reproducible (the q37
    * oracle discipline), so the report is oracle-checkable bit-exactly.
    * For a screen over an already-INDEXED corpus, or when only the
    * over-threshold pairs are wanted at scan cost ∝ the eval set's
    * cell footprint, use [[semanticContaminationHitsAgainstIndex]].
    */
  def semanticContaminationScreen(corpusVecs: DataFrame,
      evalVecs: DataFrame, threshold: Double = 0.9): DataFrame = {
    val ev = broadcast(evalVecs.select(col("vec_id").as("eval_id"),
      col("embedding").as("eval_vec")))
    corpusVecs.select(col("vec_id"), col("embedding"))
      .join(ev, lit(true), "left")
      .select(col("vec_id"), col("eval_id"),
        native.fvec_cosine(col("embedding"), col("eval_vec"))
          .as("cosine"))
      // argmax via struct max: ties on cosine fall to max(-eval_id) =
      // the LOWEST eval id — the deterministic tie rule every ranked
      // surface here uses
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cosine").as("c"),
        (-col("eval_id")).as("n"))).as("m"))
      .select(col("vec_id"), col("m.c").as("max_cosine"),
        (-col("m.n")).as("nearest_eval_id"),
        coalesce(col("m.c") >= lit(threshold), lit(false))
          .as("contaminated"))
  }

  /** The over-threshold semantic-contamination PAIRS of an indexed
    * corpus — [[semanticContaminationScreen]] restricted to its hits,
    * probing a standing f32 [[Similarity.writeIvfIndex]] layout instead
    * of re-reading the corpus: each eval vector probes its `nprobe`
    * nearest STORED cells (`nprobe <= 0` = all cells — exhaustive,
    * exact, the oracle shape), and only those cell partitions are
    * scanned (dynamic partition pruning — the probe IO is ∝ the eval
    * set's cell footprint, never the corpus, which is what makes a
    * weekly semantic screen affordable against a 100 TB index).
    * Returns `(vec_id, eval_id, cosine)` — one row per contaminated
    * (corpus, eval) pair with its evidence score; corpus vectors
    * outside the probed cells are unflagged by construction (the IVF
    * recall trade, exhaustive at `nprobe <= 0`).
    *
    * SQ8-storage indexes refuse for the
    * [[semanticNearDupAgainstIndex]] reason verbatim: a screen verdict
    * near the threshold must come from exact f32 cosines, and the sq8
    * layout's exact floats live bucket-partitioned in `vectors/`,
    * reachable only at corpus-scale IO from a probed-cell candidate
    * set. Convert losslessly (`rebuildIvfIndex(storage = "f32")`) to
    * recover the screening role.
    */
  def semanticContaminationHitsAgainstIndex(spark: SparkSession,
      dir: String, evalVecs: DataFrame, threshold: Double = 0.9,
      nprobe: Int = 4): DataFrame = {
    require(Similarity.readIvfStorage(spark, dir)._1 == "f32",
      s"$dir stores sq8 codes in cells/ — the semantic contamination " +
        "screen scores exact f32 cosines inside probed cells; screen " +
        "against f32 indexes, or convert this one back losslessly: " +
        "rebuildIvfIndex(storage = \"f32\") restores the exact floats " +
        "from vectors/")
    val cents = Similarity.readIvfCentroids(spark, dir)
    val (multiAssign, _) = Similarity.readIvfIndexParams(spark, dir)
    val np = if (nprobe <= 0) cents.length
      else math.min(nprobe, cents.length)
    // the (eval vector, probed cell) rows, materialized once: the cell
    // list and the probe join both read this copy
    val keys = Barriers.barrier(
      evalVecs.select(col("vec_id").as("eval_id"),
        col("embedding").as("eval_vec"),
        explode(Similarity.probeCells(cents, np)).as("cell")))
    // vacuously-true comparison marking the probe likely-selective so
    // dynamic partition pruning fires (the
    // [[semanticNearDupAgainstIndex]] trick)
    val probes = broadcast(keys.where(col("cell") >= 0))
    val hits = probedBuckets(spark, s"$dir/cells", Some(cellsSchema),
        keys, "cell")
      .join(probes, Seq("cell"))
      .select(col("vec_id"), col("eval_id"),
        native.fvec_cosine(col("embedding"), col("eval_vec"))
          .as("cosine"))
      .where(col("cosine") >= threshold)
    // a multi-assigned corpus vector meets the same eval probe in
    // every shared cell — same post-threshold distinct as
    // [[semanticNearDupAgainstIndex]]
    if (multiAssign > 1) hits.dropDuplicates("vec_id", "eval_id")
    else hits
  }

  // --------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-dup: pairs with cosine ≥ threshold, bucketed by
    * random-hyperplane LSH (sign bits of `planes` fixed random projections
    * per table, `tables` independent tables unioned for recall — a pair is
    * found if it collides in ANY table). Exact cosine verifies inside each
    * bucket via the native codegen'd dot product; the self-join is always
    * on bucket keys, never all-pairs.
    *
    * Recall per table for cosine c: (1 - acos(c)/π)^planes; e.g. c=0.95 →
    * 0.43 with 8 planes, → 1-(1-0.43)^4 ≈ 0.90 with 4 tables.
    */
  def embeddingNearDup(embeddings: DataFrame, dim: Int = 64,
      planes: Int = 8, threshold: Double = 0.95,
      tables: Int = 4): DataFrame = {
    val rnd = new scala.util.Random(7)
    val base = embeddings.select(col("vec_id"), col("embedding"))
    val perTable = (0 until tables).map { t =>
      val planeVecs = Seq.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
      val bucketBits = planeVecs.zipWithIndex.map { case (v, i) =>
        val proj = native.fvec_dot(col("embedding"),
          typedLit(v.map(_.toFloat).toSeq))
        when(proj >= 0, shiftleft(lit(1), i)).otherwise(lit(0))
      }.reduce((a, b) => a.bitwiseOR(b))
      base.select(col("vec_id"), col("embedding"),
        bucketBits.bitwiseOR(lit(t << planes)).as("bucket"))
    }
    val bucketed = perTable.reduce(_ unionByName _)
    val a = bucketed.as("a")
    val b = bucketed.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        native.fvec_cosine(col("a.embedding"), col("b.embedding"))
          .as("cosine"))
      .distinct()
      .where(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): k-means-cluster the embedding
    * space, then exact-cosine pairs WITHIN each cluster. Complements
    * [[embeddingNearDup]]'s random-hyperplane buckets with
    * data-ADAPTIVE ones: on clustered corpora (the realistic case)
    * centroid cells track the density structure, so semantic duplicates
    * co-locate in far fewer buckets than data-independent sign bits
    * need — the paper dedups web-scale corpora with exactly this
    * cluster-then-pairwise shape.
    *
    * Scale: the k-means rounds are map-only corpus passes with
    * nlist·dim driver floats between rounds
    * ([[Similarity.kmeansCentroids]]); cell assignment is a pure
    * projection against literal centroids (no join); the self-join is
    * keyed on the cell, never all-pairs; norms are computed once per
    * ROW before the join, not per pair — the
    * [[Similarity.cosinePairsExact]] arithmetic, so scores are
    * bit-identical to the exact baseline and found-pairs ⊆ exact-pairs
    * holds exactly. `multiAssign` > 1 replicates boundary vectors into
    * their m nearest cells to recover pairs straddling cell boundaries
    * — the recall/IO trade is quantified by [[semanticDedupRecall]],
    * never hidden.
    */
  /** Auto-nlist sentinel: `nlist = 0` derives the cell count from the
    * corpus size as `max(1, n / TargetCellSize)`. A FIXED nlist under
    * corpus growth makes within-cell pair output grow ~quadratically
    * (measured: 11.5× pair cost for 10× data at nlist=64,
    * docs/BENCH_SF1.md) — the paper's contract is nlist ∝ corpus, and
    * auto mode enforces it: constant expected cell size ⇒ scored pairs
    * ~ n·TargetCellSize/2, linear in the corpus. Costs one extra
    * count() setup job; explicit nlist skips it. Above
    * [[Similarity.AutoTwoLevelAbove]] the "auto" quantizer dispatch
    * already switches to the two-level assignment, so the derived
    * nlist may freely exceed the flat quantizer's codegen budget.
    */
  val TargetCellSize = 64

  // private[graft]: Pipeline.refreshCorpus bootstraps a first-batch IVF
  // index under the same cells-∝-corpus auto rule the inline scorer uses
  private[graft] def resolveNlist(base: DataFrame, nlist: Int): Int = {
    require(nlist >= 0, s"nlist must be >= 0 (0 = auto), got $nlist")
    if (nlist > 0) nlist
    else math.max(1L, base.count() / TargetCellSize).toInt
  }

  def semanticNearDupPairs(embeddings: DataFrame, nlist: Int = 0,
      threshold: Double = 0.95, kmeansIters: Int = 2,
      multiAssign: Int = 1, quantizer: String = "auto"): DataFrame =
    pairsFromTagged(
      taggedNormed(embeddings, nlist, kmeansIters, multiAssign,
        quantizer),
      threshold, multiAssign)

  /** The cell-tagged, norm-augmented corpus behind the semantic-dedup
    * pair search — materialized once: the assignment projection embeds
    * nlist·dim literal centroid floats (a large codegen unit), and
    * without the barrier every consumer (both self-join sides, the
    * scan-volume count) would re-plan and re-execute it. Shared by
    * [[semanticNearDupPairs]] and [[semanticDedupRecall]] so the
    * recall report's scan_frac counts the SAME cell partition that
    * produced the found pairs (k-means is re-run-deterministic only up
    * to double merge order — a second run could flip a near-tie
    * vector's argmax cell).
    */
  private def taggedNormed(embeddings: DataFrame, nlist: Int,
      kmeansIters: Int, multiAssign: Int,
      quantizer: String = "auto"): DataFrame =
    taggedWithCents(embeddings, nlist, kmeansIters, multiAssign,
      quantizer)._1

  /** [[taggedNormed]] plus the centroids that produced the cell tags —
    * for consumers that need the centroid VECTORS too (the centroid-keep
    * policy scores each row against its own cell's centroid; re-running
    * k-means for them could flip a near-tie assignment, see
    * [[taggedNormed]]'s determinism note). */
  private def taggedWithCents(embeddings: DataFrame, nlist: Int,
      kmeansIters: Int, multiAssign: Int, quantizer: String = "auto")
      : (DataFrame, Array[(Int, Array[Float])]) = {
    val base = embeddings.select(col("vec_id"), col("embedding"))
    val cells = resolveNlist(base, nlist)
    val cents = Similarity.kmeansCentroids(base, cells, kmeansIters,
      quantizer)
    (tagWith(base, cents, multiAssign, quantizer), cents)
  }

  /** Cell-tag + norm-augment under a GIVEN centroid set — the one
    * projection every semantic pair scorer shares (byte-identical
    * columns ⇒ bit-identical cosines), barriered for the reason
    * [[taggedNormed]]'s scaladoc gives. */
  private def tagWith(base: DataFrame,
      cents: Array[(Int, Array[Float])], multiAssign: Int,
      quantizer: String): DataFrame =
    Barriers.barrier(
      Similarity.assignWith(quantizer, base, cents, multiAssign)
        .select(col("cell"), col("vec_id"), col("embedding"),
          native.fvec_norm(col("embedding")).as("nrm")))

  /** Within-cell pairs of `tagged` at `threshold` — the
    * [[Similarity.pairCosine]] arithmetic over [[Similarity.pairSide]]
    * projections, so scores are bit-identical to
    * [[Similarity.cosinePairsExact]] and found ⊆ exact holds exactly.
    */
  private def pairsFromTagged(tagged: DataFrame, threshold: Double,
      multiAssign: Int): DataFrame = {
    val pairs = Similarity.pairSide(tagged, "a", Seq("cell"))
      .join(Similarity.pairSide(tagged, "b", Seq("cell")), Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.pairCosine.as("cosine"))
      .where(col("cosine") >= threshold)
    // multi-assigned vectors can meet in several shared cells; the same
    // pair scores bit-identically in each (same vectors, same
    // expression), so a distinct AFTER the threshold filter dedups the
    // smallest possible stream
    if (multiAssign > 1) pairs.distinct() else pairs
  }

  /** Semantic dedup survivors: one canonical row per semantic-duplicate
    * cluster plus every unclustered row — the full SemDeDup pipeline:
    * cluster → within-cluster cosine pairs → connected components →
    * keep one per component.
    *
    * @param keep which member of each duplicate component survives:
    *   - `"minid"` (default): the lowest vec_id — cheapest (the plain
    *     [[dedupByClusters]] anti-join tail, no extra scoring pass) and
    *     deterministic under re-partitioning;
    *   - `"centroid_far"`: the member with the LOWEST cosine to its
    *     nearest assigned cell's centroid (ties to the lowest vec_id) —
    *     the configuration SemDeDup's authors chose (Abbas et al.,
    *     arXiv:2303.09540 §3: among random / nearest-to-centroid /
    *     farthest-from-centroid keep policies they keep the LOW-
    *     similarity "hard" example);
    *   - `"centroid"`: the member CLOSEST to its centroid (max cosine,
    *     ties to the lowest vec_id) — the prototype-keeping variant the
    *     same ablation evaluates, for corpora where the most
    *     representative member should survive.
    *   Both centroid policies cost one extra broadcast join against the
    *   nlist centroids plus a per-component window (hash-partitioned
    *   by component, never global).
    */
  def semanticDedup(embeddings: DataFrame, nlist: Int = 0,
      threshold: Double = 0.95, kmeansIters: Int = 2,
      multiAssign: Int = 1, maxIter: Int = 10,
      strategy: String = "labelprop",
      quantizer: String = "auto", keep: String = "minid"): DataFrame =
    keep match {
      case "minid" =>
        dedupByClusters(embeddings,
          semanticNearDupPairs(embeddings, nlist, threshold, kmeansIters,
            multiAssign, quantizer),
          maxIter, strategy, idCol = "vec_id")
      case "centroid" | "centroid_far" =>
        // ONE tagging pass feeds the pair search AND the centroid
        // scores — the same single-k-means-run discipline as
        // [[taggedNormed]]'s scaladoc demands
        val (tagged, cents) = taggedWithCents(embeddings, nlist,
          kmeansIters, multiAssign, quantizer)
        val clusters = clustersOf(
          pairsFromTagged(tagged, threshold, multiAssign), maxIter,
          strategy)
        import embeddings.sparkSession.implicits._
        val centsDf = cents.toSeq.map { case (c, v) => (c, v.toSeq) }
          .toDF("cell", "centroid")
        // centroid scores only for CLUSTER MEMBERS (the semi-join prune
        // every verify stage uses): unclustered vectors — the bulk of a
        // normal corpus — would have their cosines computed and then
        // discarded by the inner join below. The member table is ∝
        // duplicate rows, the same broadcast contract as involvedIds.
        val members = clusters.select(col("id").as("vec_id"))
        // per-vector similarity to its NEAREST assigned centroid (max
        // over the multiAssign replicas); the centroid table is nlist
        // rows — always broadcast
        val centCos = tagged
          .join(broadcast(members), Seq("vec_id"), "left_semi")
          .join(broadcast(centsDf), Seq("cell"))
          .select(col("vec_id"),
            native.fvec_cosine(col("embedding"), col("centroid"))
              .as("cc"))
          .groupBy(col("vec_id"))
          .agg(max(col("cc")).as("cent_cos"))
        // rank 1 survives: closest member first for "centroid",
        // farthest first for the paper's chosen "centroid_far"
        val centOrder =
          if (keep == "centroid") col("cent_cos").desc
          else col("cent_cos").asc
        val ranked = clusters
          .join(centCos, clusters("id") === centCos("vec_id"))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("canonical_id"))
              .orderBy(centOrder, col("id").asc)))
        val drop = ranked.where(col("rk") > 1)
          .select(col("id").as("vec_id"))
        embeddings.join(drop, Seq("vec_id"), "left_anti")
      case other => throw new IllegalArgumentException(
        s"unknown keep policy '$other' " +
          "(expected 'minid', 'centroid', or 'centroid_far')")
    }

  /** Recall of the cluster-bucketed pair search against the exact
    * all-pairs baseline on the SAME input, plus the fraction of pairs
    * it actually scored — ONE row (n_exact, n_found, recall,
    * scan_frac, multi_assign). The [[Similarity.ivfRecallStats]]
    * honesty contract for dedup: a parameter choice cannot silently buy
    * recall with replication IO, because scan_frac discloses it.
    *
    * The exact side is O(n²) by construction — cap the input like the
    * oracle baselines (q63); the report validates parameters on a
    * sample, the scale path is [[semanticNearDupPairs]] itself.
    * found ⊆ exact bit-exactly (same cosine arithmetic), so recall is
    * a count ratio after an inner join on pair ids.
    */
  def semanticDedupRecall(embeddings: DataFrame, nlist: Int = 0,
      threshold: Double = 0.95, kmeansIters: Int = 2,
      multiAssign: Int = 1, quantizer: String = "auto"): DataFrame = {
    val base = embeddings.select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    val exact = Similarity.cosinePairsExact(base, threshold)
      .select(col("id_a"), col("id_b"))
    // ONE tagging pass feeds both the found pairs and the scan count —
    // see [[taggedNormed]] for why they must not come from two k-means
    // runs
    val tagged = taggedNormed(base, nlist, kmeansIters, multiAssign,
      quantizer)
    val found = pairsFromTagged(tagged, threshold, multiAssign)
      .select(col("id_a"), col("id_b"), lit(1).as("hit"))
    // scored-pair volume: cells of size c contribute c·(c-1)/2 scored
    // pairs per assignment; multi-assign overlaps are what the distinct
    // removes AFTER scoring, so they count toward scan cost
    val scanned = tagged
      .groupBy(col("cell")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1) / 2), lit(0L))
        .as("n_scanned"))
    val nTotal = base.agg(count(lit(1)).as("n"))
    exact.join(found, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(coalesce(col("hit"), lit(0))), lit(0L))
          .as("n_found"))
      .crossJoin(scanned).crossJoin(nTotal)
      .select(col("n_exact"), col("n_found"),
        // no exact pairs → vacuously perfect recall, not NaN
        when(col("n_exact") === 0, lit(1.0))
          .otherwise(col("n_found").cast("double") / col("n_exact"))
          .as("recall"),
        // < 2 rows → no scoreable pairs at all: 0.0, not a NULL from
        // the zero denominator
        when(col("n") < 2, lit(0.0))
          .otherwise(col("n_scanned").cast("double") /
            (col("n") * (col("n") - 1) / 2)).as("scan_frac"),
        lit(multiAssign).as("multi_assign"))
  }

  // ------------- persisted IVF index (incremental SEMANTIC dedup)

  // probe-side schema declared explicitly, like the sibling indexes: a
  // subset projection of whatever extra columns the indexed corpus
  // carried, and no footer-listing inference pass per probe
  private val cellsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("cell", IntegerType)))

  /** [[semanticNearDupPairs]] under a CALLER-SUPPLIED centroid set
    * instead of a fresh k-means run — the deterministic-geometry form
    * the incremental surface's equality contract is stated against:
    * cell assignment is a pure per-row function of (vector, centroids,
    * quantizer), so with the SAME centroids two runs tag identically.
    * Same tagging projection and [[Similarity.pairCosine]] arithmetic
    * as every other semantic scorer.
    */
  def semanticNearDupPairsWith(embeddings: DataFrame,
      centroids: Array[(Int, Array[Float])], threshold: Double = 0.95,
      multiAssign: Int = 1, quantizer: String = "auto"): DataFrame =
    pairsFromTagged(
      tagWith(embeddings.select(col("vec_id"), col("embedding")),
        centroids, multiAssign, quantizer),
      threshold, multiAssign)

  /** Semantic near-dup pairs between a NEW batch of embeddings and a
    * [[Similarity.writeIvfIndex]] corpus — the incremental completion
    * of the semantic family: the batch is cell-tagged with the INDEX's
    * own STORED centroids under its STORED quantizer dispatch and
    * multi-assignment (params/ — caller-supplied geometry could
    * silently drift from the stored cells), then equi-joined against
    * `cells/` on the cell partition column with the exact
    * [[Similarity.pairCosine]] arithmetic inside matched cells. Only
    * CROSS pairs come out — within-batch pairs are
    * [[semanticNearDupPairsWith]] (same centroids!)'s job — and
    * incremental ∪ within-batch equals the full
    * [[semanticNearDupPairsWith]] run over corpus ∪ batch restricted
    * to batch-touching pairs PAIR-BY-PAIR: whether two vectors share a
    * cell is a pure function of their own embeddings and the fixed
    * centroid set (DedupSpec proves the equality bit-exactly, cosines
    * included).
    *
    * Scale: the batch tagging is map-only; `broadcastProbe = true`
    * (the weekly-refresh shape: batch ≪ index) broadcasts the tagged
    * batch, the join keys on the `cells/` PARTITION column, and
    * dynamic partition pruning restricts the embeddings scan to the
    * cells the batch occupies (PlanSpec-pinned) — probe IO ∝ the
    * batch's cell footprint, never the corpus. Set it false for a
    * batch too large to broadcast: plain hash shuffle on the cell key,
    * still never all-pairs. Index-side norms are recomputed in the
    * pruned scan's projection (one O(d) loop per SCANNED row — ∝ the
    * pruned read, and cheaper than widening every stored index by a
    * column the ANN probes never use).
    */
  def semanticNearDupAgainstIndex(spark: SparkSession,
      newVecs: DataFrame, dir: String, threshold: Double = 0.95,
      broadcastProbe: Boolean = true): DataFrame = {
    // the dedup probe's contract is EXACT cosines inside the probed
    // cells (the bit-exact incremental ≡ full-run equality) — an sq8
    // index's cells hold quantized codes, whose approximate scores
    // near the threshold would silently break that equality, and the
    // exact floats live in vectors/, which the probe cannot join in
    // without corpus-scale IO (probed-cell populations spread across
    // every pmod vbucket). Refuse: dedup indexes are the f32 layout;
    // sq8 is the ANN-serving one. The conversion back is LOSSLESS —
    // vectors/ holds the exact floats — so an index converted to sq8
    // for serving recovers its dedup role with one rebuild.
    require(Similarity.readIvfStorage(spark, dir)._1 == "f32",
      s"$dir stores sq8 codes in cells/ — the semantic near-dup probe " +
        "scores exact f32 cosines inside probed cells; write dedup " +
        "indexes with storage=f32 (sq8 is the ANN-serving layout), or " +
        "convert this one back losslessly: rebuildIvfIndex(storage = " +
        "\"f32\") restores the exact floats from vectors/")
    val cents = Similarity.readIvfCentroids(spark, dir)
    val (multiAssign, quantizer) =
      Similarity.readIvfIndexParams(spark, dir)
    // the tagged batch, materialized once: the cell list and the probe
    // join both read this copy
    val keys = Barriers.barrier(tagWith(
      newVecs.select(col("vec_id"), col("embedding")), cents,
      multiAssign, quantizer)
      .select(col("cell"), col("vec_id").as("new_id"),
        col("embedding").as("eb"), col("nrm").as("nb")))
    // vacuously-true comparison marking the probe likely-selective so
    // dynamic partition pruning fires (the minhash-probe trick)
    val batch = keys.where(col("cell") >= 0)
    val probe = if (broadcastProbe) broadcast(batch) else batch
    val idx = probedBuckets(spark, s"$dir/cells", Some(cellsSchema), keys,
        "cell")
      .select(col("cell"), col("vec_id"), col("embedding").as("ea"),
        native.fvec_norm(col("embedding")).as("na"))
    val pairs = idx.join(probe, Seq("cell"))
      // ids are globally unique by contract; a violation must not
      // surface as a self-pair
      .where(col("vec_id") =!= col("new_id"))
      .select(least(col("vec_id"), col("new_id")).as("id_a"),
        greatest(col("vec_id"), col("new_id")).as("id_b"),
        // fvec_dot/na·nb is [[Similarity.pairCosine]]'s arithmetic;
        // operand ORDER differs when the batch holds the lower id, but
        // elementwise float multiply and the double products commute
        // bit-exactly under the kernel's fixed index-order
        // accumulation, so the score is identical either way
        (native.fvec_dot(col("ea"), col("eb")) /
          (col("na") * col("nb"))).as("cosine"))
      .where(col("cosine") >= threshold)
    // multi-assigned vectors can meet in several shared cells — same
    // post-threshold distinct as [[pairsFromTagged]]
    if (multiAssign > 1) pairs.distinct() else pairs
  }

  // --------------------- index maintenance: compaction (all five families)

  /** Which persisted-index family lives under `dir`, detected from the
    * `params/` schema — each family's params columns are disjoint, so
    * the stored metadata self-describes the layout (no caller-supplied
    * family name that could mismatch the directory's actual contents).
    * The "image" family ([[Multimodal.writeImageIndex]]) IS the Hamming
    * layout — same pieces/, same params — so it needs no case of its
    * own.
    */
  private[operators] def indexFamily(spark: SparkSession,
      dir: String): String = {
    val fields = spark.read.parquet(s"$dir/params")
      .schema.fieldNames.toSet
    if (fields.contains("band_buckets")) "minhash"
    else if (fields.contains("token_buckets")) "bm25"
    else if (fields.contains("chunk_buckets")) "chunk"
    else if (fields.contains("piece_buckets")) "hamming"
    else if (fields.contains("quantizer")) "ivf"
    else if (fields.contains("hash_buckets")) "benchmark"
    else if (fields.contains("posting_buckets")) "containment"
    else throw new IllegalArgumentException(
      s"$dir/params matches no known index family " +
        s"(columns: ${fields.toSeq.sorted.mkString(", ")})")
  }

  /** Staging-swap rewrite of ONE index sub-dataset: write the rewritten
    * rows to `<sub>__compact_tmp`, then swap into place with two atomic
    * directory renames (the reference's staging-table swap — build
    * aside, rename over — applied at the file layer). Crash discipline:
    * stray `__compact_tmp`/`__old` dirs from a previous crashed run are
    * removed up front (they are never read by probes, so they can only
    * waste space, not answers); between the two renames `sub` does not
    * exist and every probe fails LOUDLY on the missing path — there is
    * no window where a probe reads a half-rewritten mix. After the
    * second rename the index is fully readable again; the leftover
    * `__old` is deleted last and is garbage either way.
    */
  private def swapRewrite(spark: SparkSession, sub: String,
      partitionCols: Seq[String])(rewritten: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val subPath = new Path(sub)
    val fs = subPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(sub + "__compact_tmp")
    val old = new Path(sub + "__old")
    Seq(tmp, old).foreach(p => if (fs.exists(p)) fs.delete(p, true))
    val w = rewritten.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    require(fs.rename(subPath, old), s"rename $subPath -> $old failed")
    require(fs.rename(tmp, subPath), s"rename $tmp -> $subPath failed")
    fs.delete(old, true)
  }

  /** Compaction of a minhash/containment family's shingles/ under its
    * stored layout: bucketed → one doc-id-sorted file per bucket (the
    * [[onePerPartition]] shape every partitioned sub-dataset gets);
    * legacy flat → range-cluster by doc_id so the rewrite stays
    * parallel and files are id-sorted for the verify join. De-dup key
    * is the doc id either way (a retried append re-wrote whole rows).
    */
  private def compactShingles(spark: SparkSession, dir: String): Unit =
    readShingleBuckets(spark, dir) match {
      case Some(_) =>
        swapRewrite(spark, s"$dir/shingles", Seq("bucket"))(
          onePerPartition(
            spark.read.schema(bucketedShinglesSchema)
              .parquet(s"$dir/shingles").dropDuplicates("doc_id"),
            "bucket", Seq("doc_id")))
      case None =>
        swapRewrite(spark, s"$dir/shingles", Nil)(
          spark.read.schema(shinglesSchema).parquet(s"$dir/shingles")
            .select(col("doc_id"), col("sh"))
            .dropDuplicates("doc_id")
            .repartitionByRange(col("doc_id"))
            .sortWithinPartitions("doc_id"))
    }

  /** One-file-per-partition-value shape: hash-repartition on the
    * partition column (each value's rows land in exactly one task, so
    * `partitionBy` emits exactly one file per value) and sort within
    * tasks leading with that column (the file writer needs
    * partition-column-clustered input and would insert its own sort
    * otherwise), then by the probe key for locality + compression.
    */
  private def onePerPartition(df: DataFrame, part: String,
      sortCols: Seq[String]): DataFrame =
    df.repartition(col(part))
      .sortWithinPartitions((part +: sortCols).map(col): _*)

  /** Compact a persisted index after a season of appends — the
    * lifecycle maintenance pass for all seven written-index families
    * ([[writeMinhashIndex]] text bands, [[writeChunkIndex]] /
    * [[writeChunkIndexCDC]] chunk hashes, [[writeHammingIndex]]
    * signature pieces, [[Multimodal.writeImageIndex]] = the Hamming
    * layout, [[Similarity.writeIvfIndex]] embedding cells,
    * [[writeBenchmarkIndex]] decontamination hashes,
    * [[writeContainmentIndex]] postings; the family
    * is detected from `params/`, see [[indexFamily]]). Every
    * `mode = "append"` lays a fresh part-file set per bucket, so after
    * a year of weekly batches a probe's pruned scan opens
    * O(appends) files per bucket; retried crashed appends additionally
    * leave duplicate rows (their documented harmless-but-unbounded
    * price). Compaction rewrites each sub-dataset to ONE sorted,
    * re-distincted file per bucket partition via a staging-swap
    * ([[swapRewrite]]) — probe ANSWERS are bit-identical before and
    * after (the spec proves it per family), only the file layout and
    * the duplicate rows change.
    *
    * `params/` (and the IVF family's `centroids/`) are NOT touched:
    * compaction changes layout, not identity, so the stored metadata
    * stays valid through the whole operation — the one crash-unsafe
    * step the write scaffold needs (the params rewrite) has nothing to
    * do here, and a crash at ANY point leaves either the old layout,
    * a loudly-missing data dir (mid-swap), or the new layout — never
    * stale metadata vouching for mismatched data.
    *
    * Single-writer discipline (same as append): do not compact while
    * another writer appends to, deletes from, or probes the same index
    * mid-swap.
    */
  def compactIndex(spark: SparkSession, dir: String): Unit =
    indexFamily(spark, dir) match {
      case "minhash" =>
        // full-row distinct: a retried append re-wrote every (doc,
        // band) row verbatim, so duplicates are exact row copies
        swapRewrite(spark, s"$dir/bands", Seq("bucket"))(
          onePerPartition(
            spark.read.schema(bandsSchema).parquet(s"$dir/bands")
              .distinct(),
            "bucket", Seq("band_id", "band_hash", "doc_id")))
        compactShingles(spark, dir)
      case "chunk" =>
        swapRewrite(spark, s"$dir/chunks", Seq("bucket"))(
          onePerPartition(
            spark.read.schema(chunksSchema).parquet(s"$dir/chunks")
              .distinct(),
            "bucket", Seq("ch")))
      case "hamming" =>
        swapRewrite(spark, s"$dir/pieces", Seq("bucket"))(
          onePerPartition(
            spark.read.schema(piecesSchema).parquet(s"$dir/pieces")
              .distinct(),
            "bucket", Seq("q", "qh", "doc_id")))
      case "bm25" =>
        // a retried crashed append re-wrote (token, doc_id, tf) rows
        // verbatim — exact copies, distinct-able (the probe collapses
        // them too, so answers are identical before and after)
        swapRewrite(spark, s"$dir/postings", Seq("bucket"))(
          onePerPartition(
            spark.read.schema(bm25PostingsSchema)
              .parquet(s"$dir/postings").distinct(),
            "bucket", Seq("token", "doc_id")))
        swapRewrite(spark, s"$dir/doclen", Seq("dbucket"))(
          onePerPartition(
            spark.read.schema(bm25DoclenSchema)
              .parquet(s"$dir/doclen").distinct(),
            "dbucket", Seq("doc_id")))
      case "benchmark" =>
        // appended eval sets re-distinct only within themselves, so a
        // shared n-gram sits once per appended suite — exact row copies
        swapRewrite(spark, s"$dir/hashes", Seq("bucket"))(
          onePerPartition(
            spark.read.schema(benchHashesSchema).parquet(s"$dir/hashes")
              .distinct(),
            "bucket", Seq("h")))
      case "containment" =>
        swapRewrite(spark, s"$dir/postings", Seq("bucket"))(
          onePerPartition(
            spark.read.schema(postingsSchema).parquet(s"$dir/postings")
              .distinct(),
            "bucket", Seq("h", "doc_id")))
        compactShingles(spark, dir)
      case "ivf" =>
        // inferred schema, not [[cellsSchema]]: the written cells carry
        // whatever EXTRA corpus columns the caller indexed, and a
        // fixed-projection rewrite would silently drop them. Inference
        // only fails on an empty corpus (partitionBy wrote no data
        // files) — nothing to compact there.
        val cells =
          try Some(spark.read.parquet(s"$dir/cells"))
          catch {
            case _: org.apache.spark.sql.AnalysisException => None
          }
        cells.foreach { df =>
          // dropDuplicates, not distinct: float-array columns compare
          // fine, but the (vec_id, cell) key is what appends can
          // duplicate and is far cheaper to shuffle than the vectors
          swapRewrite(spark, s"$dir/cells", Seq("cell"))(
            onePerPartition(df.dropDuplicates("vec_id", "cell"),
              "cell", Seq("vec_id")))
        }
        // the sq8 layout's vectors/ re-rank side compacts like the
        // shingle datasets: one id-sorted file per vbucket, retried
        // appends' duplicate rows collapsed
        if (Similarity.readIvfStorage(spark, dir)._1 == "sq8")
          swapRewrite(spark, s"$dir/vectors", Seq("vbucket"))(
            onePerPartition(
              spark.read.schema(Similarity.vectorsSchema)
                .parquet(s"$dir/vectors").dropDuplicates("vec_id"),
              "vbucket", Seq("vec_id")))
    }

  // ------------------------- index maintenance: deletion (retractions)

  /** Anti-join rewrite of the TOUCHED partitions of one partitioned
    * index sub-dataset: find the bucket/cell partitions holding any
    * row keyed by `ids` (one semi-joined scan against the broadcast id
    * set), rewrite ONLY those partitions' survivors into a staging
    * root, then swap each touched partition dir into place with two
    * renames — untouched partitions' files are never opened, so delete
    * IO is ∝ the retracted ids' bucket footprint, not the index. A
    * partition the deletion emptied writes no staging dir and is
    * simply retired by the first rename. (NOT dynamic partition
    * overwrite: its per-partition commit semantics proved unreliable
    * under this layout — the staged-rename swap is the same machinery
    * the compaction path proves bit-exact.)
    *
    * Crash discipline, stated exactly: for each touched partition the
    * old dir is renamed ASIDE (to `<sub>__delete_old/`) before the
    * rewritten dir is renamed in, so no row is ever unrecoverably
    * lost; a crash between the two renames leaves that one partition
    * absent (its candidates missing from probes) with its old rows
    * preserved aside. Recovery: move any `<sub>__delete_old/<p>=<v>`
    * dirs back under `<sub>` and re-run the same delete — the rewrite
    * is deterministic and idempotent. On success both staging roots
    * are removed. `params/` is untouched: like compaction, deletion
    * changes membership, not identity.
    */
  private def deleteKeyedRows(spark: SparkSession, sub: String,
      data: DataFrame, partCol: String, idCol: String,
      ids: DataFrame, knownBuckets: Option[Seq[Int]] = None): Unit = {
    import org.apache.hadoop.fs.Path
    val idSet = broadcast(
      ids.select(ids.columns.head).toDF(idCol).distinct())
    // partition columns DERIVED from the id (shingles: bucket =
    // pmod(doc_id, n)) hand the touched set in directly — computed
    // from the retracted ids alone, intersected with the partitions on
    // disk: zero index scan. Content-keyed partitions (band/posting
    // buckets are functions of the hash, not the id) fall back to one
    // broadcast-semi-joined scan of (partCol, idCol).
    val touched = knownBuckets match {
      case Some(bs) =>
        val fs0 = new Path(sub)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val onDisk = fs0.listStatus(new Path(sub)).collect {
          case e if e.isDirectory &&
              e.getPath.getName.startsWith(s"$partCol=") =>
            e.getPath.getName.stripPrefix(s"$partCol=").toInt
        }.toSet
        bs.distinct.filter(onDisk).toArray
      case None => data.join(idSet, Seq(idCol), "left_semi")
        .select(col(partCol)).distinct().collect().map(_.getInt(0))
    }
    if (touched.isEmpty) return
    val inTouched = col(partCol)
      .isin(touched.map(Integer.valueOf).toIndexedSeq: _*)
    val fs = new Path(sub)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpRoot = new Path(sub + "__delete_tmp")
    val oldRoot = new Path(sub + "__delete_old")
    Seq(tmpRoot, oldRoot).foreach(p =>
      if (fs.exists(p)) fs.delete(p, true))
    data.where(inTouched).join(idSet, Seq(idCol), "left_anti")
      .repartition(col(partCol))
      .sortWithinPartitions(col(partCol), col(idCol))
      .write.partitionBy(partCol).parquet(tmpRoot.toString)
    fs.mkdirs(oldRoot)
    touched.foreach { b =>
      val live = new Path(s"$sub/$partCol=$b")
      val staged = new Path(s"$tmpRoot/$partCol=$b")
      if (fs.exists(live))
        require(fs.rename(live, new Path(oldRoot, s"$partCol=$b")),
          s"rename $live aside failed")
      if (fs.exists(staged))
        require(fs.rename(staged, live), s"rename $staged -> $live failed")
    }
    Seq(tmpRoot, oldRoot).foreach(p => fs.delete(p, true))
  }

  /** Delete a set of retracted document/vector ids from a persisted
    * index, so they stop generating candidates in every future probe —
    * the retraction half of the index lifecycle (append folds batches
    * in, [[compactIndex]] restores the layout, this removes rows).
    * `ids` is a one-column frame of ids (whatever its column is
    * named); family is detected from `params/` ([[indexFamily]]):
    *
    *   - minhash: the ids' rows leave `bands/` (candidate side, by
    *     touched band bucket) AND `shingles/` (verify + all-pairs
    *     side; by touched doc-id bucket — computed from the ids alone,
    *     no scan — on the bucketed layout; a legacy flat index pays a
    *     full staging-swap rewrite until [[migrateShingleBuckets]]
    *     upgrades it);
    *   - hamming (incl. the image-dHash flavor): the ids' piece rows
    *     leave `pieces/` by touched bucket;
    *   - ivf: the ids' vectors leave `cells/` by touched cell (all
    *     `multiAssign` replicas — the id keys every copy);
    *   - chunk: REFUSED here. The chunk index is content-addressed
    *     (hashes carry no doc ids), so per-doc deletion needs the
    *     retracted documents' text — [[deleteFromChunkIndex]] is that
    *     surface, with its own shared-content semantics.
    *   - benchmark: REFUSED for the same reason — shingle hashes carry
    *     no eval-set provenance; [[deleteFromBenchmarkIndex]] is the
    *     content-addressed surface.
    *   - containment: the ids' posting rows leave `postings/` by
    *     touched bucket and their arrays leave `shingles/` by touched
    *     doc-id bucket — the minhash deletion shape (postings carry
    *     doc ids, so id-keyed deletion works directly), with the same
    *     legacy-flat fallback.
    *
    * Ids are never reused (the monotone-id contract every index
    * already assumes), so a deleted id range stays retired — deletion
    * never moves a watermark backwards.
    */
  def deleteFromIndex(spark: SparkSession, dir: String,
      ids: DataFrame): Unit = indexFamily(spark, dir) match {
    case "minhash" =>
      deleteKeyedRows(spark, s"$dir/bands",
        spark.read.schema(bandsSchema).parquet(s"$dir/bands"),
        "bucket", "doc_id", ids)
      deleteIndexShingles(spark, dir, ids)
    case "hamming" =>
      deleteKeyedRows(spark, s"$dir/pieces",
        spark.read.schema(piecesSchema).parquet(s"$dir/pieces"),
        "bucket", "doc_id", ids)
    case "ivf" =>
      // inferred schema — the cells carry the caller's extra corpus
      // columns (same reason as the compaction path)
      val cells =
        try Some(spark.read.parquet(s"$dir/cells"))
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      cells.foreach(df =>
        deleteKeyedRows(spark, s"$dir/cells", df, "cell", "vec_id", ids))
      // sq8 layout: the ids' f32 rows leave vectors/ too, by touched
      // vbucket — derived from the ids alone (pmod), zero index scan,
      // the bucketed-shingles deletion economics
      Similarity.readIvfStorage(spark, dir) match {
        case ("sq8", vb) =>
          val touched = ids.select(
              pmod(ids.col(ids.columns.head).cast("long"), lit(vb.toLong))
                .cast("int").as("vbucket"))
            .distinct().collect().map(_.getInt(0)).toSeq
          deleteKeyedRows(spark, s"$dir/vectors",
            spark.read.schema(Similarity.vectorsSchema)
              .parquet(s"$dir/vectors"),
            "vbucket", "vec_id", ids, knownBuckets = Some(touched))
        case _ => ()
      }
    case "chunk" => throw new IllegalArgumentException(
      s"$dir is a chunk index — content-addressed, so per-doc deletion " +
        "needs the retracted documents' text: use deleteFromChunkIndex")
    case "benchmark" => throw new IllegalArgumentException(
      s"$dir is a benchmark index — content-addressed, so eval-set " +
        "deletion needs the retracted set's text: use " +
        "deleteFromBenchmarkIndex")
    case "bm25" => throw new IllegalArgumentException(
      s"$dir is a BM25 retrieval index — postings are partitioned on " +
        "the probe (token) dimension, so per-doc deletion would touch " +
        "every bucket; it is rebuild-only DERIVED data: re-run " +
        "Retrieval.writeBm25Index over the retracted corpus")
    case "containment" =>
      deleteKeyedRows(spark, s"$dir/postings",
        spark.read.schema(postingsSchema).parquet(s"$dir/postings"),
        "bucket", "doc_id", ids)
      deleteIndexShingles(spark, dir, ids)
  }

  /** shingles/ half of a minhash/containment deletion, layout-aware:
    * bucketed → [[deleteKeyedRows]] with the touched set computed from
    * the retracted ids' own `pmod(doc_id, n)` values (no index scan —
    * deletion IO is ∝ the ids' bucket footprint); legacy flat → the
    * full staging-swap anti-join rewrite, the disclosed cost of the
    * pre-migration layout. */
  private def deleteIndexShingles(spark: SparkSession, dir: String,
      ids: DataFrame): Unit = readShingleBuckets(spark, dir) match {
    case Some(n) =>
      val buckets = ids.select(
          shingleBucket(n)(ids.col(ids.columns.head).cast("long"))
            .as("bucket"))
        .distinct().collect().map(_.getInt(0)).toSeq
      deleteKeyedRows(spark, s"$dir/shingles",
        spark.read.schema(bucketedShinglesSchema)
          .parquet(s"$dir/shingles"),
        "bucket", "doc_id", ids, knownBuckets = Some(buckets))
    case None =>
      val idSet = broadcast(
        ids.select(ids.columns.head).toDF("doc_id").distinct())
      swapRewrite(spark, s"$dir/shingles", Nil)(
        spark.read.schema(shinglesSchema).parquet(s"$dir/shingles")
          .select(col("doc_id"), col("sh"))
          .join(idSet, Seq("doc_id"), "left_anti"))
  }

  /** One-time in-place layout upgrade of a minhash/containment index's
    * flat `shingles/` to the bucketed layout (`bucket = pmod(doc_id,
    * shingleBuckets)`), so deletion becomes touched-bucket-local and
    * the verify read prunes — run once per legacy index from the
    * maintenance window. Also serves as an explicit RE-bucket (a new
    * count) for an already-bucketed index. Steps: staging-swap rewrite
    * of the data ([[swapRewrite]] — probes fail loudly mid-swap, never
    * read a mix), then `params/` gains/updates `shingle_buckets` LAST
    * via its own staged swap. For a RE-bucket the stored count is
    * DEMOTED to flat first (stale params must never vouch for a
    * differently-bucketed layout — a pruned probe deriving buckets
    * from the old count against dirs written with the new one would
    * silently MISS rows), so every crash window leaves an index whose
    * params claim flat while the data is flat or bucketed: every
    * reader treats that index as flat — correct answers, no pruning
    * (the flat-path readers all project (doc_id, sh), so the
    * discovered partition column Spark appends to an explicit-schema
    * read is dropped, not mistaken for data) — and re-running the
    * migration completes it. No-op when the stored layout already
    * matches. Single-writer discipline like every maintenance pass.
    */
  def migrateShingleBuckets(spark: SparkSession, dir: String,
      shingleBuckets: Int = 64): Unit =
    // single-writer lease: the demote-params / rewrite / re-stamp
    // sequence must never interleave with an append or compaction
    Lease.withLeases(spark, Seq(dir), "migrateShingleBuckets") {
    require(shingleBuckets > 0,
      s"shingleBuckets must be > 0, got $shingleBuckets")
    val family = indexFamily(spark, dir)
    require(family == "minhash" || family == "containment",
      s"$dir is a '$family' index — only the minhash/containment " +
        "families carry a shingles/ sub-dataset")
    if (readShingleBuckets(spark, dir).contains(shingleBuckets)) return
    // RE-bucket: demote params to flat BEFORE touching data, so no
    // crash window leaves a stored count disagreeing with the layout
    // on disk (see the scaladoc's silent-miss rationale)
    if (readShingleBuckets(spark, dir).isDefined)
      swapRewrite(spark, s"$dir/params", Nil)(
        spark.read.parquet(s"$dir/params").drop("shingle_buckets"))
    // read as (doc_id, sh) regardless of current layout — covers both
    // a flat index and a crashed migration's bucketed-data-flat-params
    // state (and an explicit re-bucket; the projection drops a
    // discovered partition column either way)
    val flat = spark.read.schema(shinglesSchema)
      .parquet(s"$dir/shingles").select(col("doc_id"), col("sh"))
      .dropDuplicates("doc_id")
    swapRewrite(spark, s"$dir/shingles", Seq("bucket"))(
      onePerPartition(
        flat.withColumn("bucket",
          shingleBucket(shingleBuckets)(col("doc_id"))),
        "bucket", Seq("doc_id")))
    // params LAST (the scaffold's stale-params-never-vouch rule): the
    // updated row is computed from the live params and staged-swapped
    // over it
    val updated = spark.read.parquet(s"$dir/params")
      .drop("shingle_buckets")
      .withColumn("shingle_buckets", lit(shingleBuckets))
    swapRewrite(spark, s"$dir/params", Nil)(updated)
  }

  /** Delete retracted DOCUMENTS' content from a [[writeChunkIndex]] /
    * [[writeChunkIndexCDC]] corpus. The chunk index stores content
    * hashes, not doc ids, so retraction is content-addressed: the
    * retracted docs (doc_id, text) are re-chunked under the index's
    * own stored rule and granularity and exactly those hashes leave
    * `chunks/` (touched-bucket anti-join rewrite, [[deleteKeyedRows]]
    * keyed on the hash).
    *
    * Semantics to know, stated rather than hidden:
    *
    *   - a removed chunk SHARED with a still-standing doc is removed
    *     too — the index cannot know (it stores no per-doc ownership,
    *     the price of O(distinct chunks) size). Dedup coverage for
    *     that content lapses until the next batch containing it is
    *     processed: its probe keeps the chunk (absent from the index)
    *     and its append re-admits the hash — self-healing, at the
    *     cost of one duplicated chunk surviving in that batch.
    *   - the `max_doc_id` watermark does NOT move: ids are never
    *     reused, so a retracted id range stays retired and a batch
    *     reusing those ids is still rejected by the monotone-id
    *     check — re-ingesting retracted content needs FRESH ids,
    *     which is exactly what keeps the incremental ≡ full-run
    *     equality sound for every id the index has ever seen.
    */
  def deleteFromChunkIndex(spark: SparkSession, dir: String,
      retracted: DataFrame): Unit = {
    val (rule, granularity, _, _) = readChunkIndexParams(spark, dir)
    val hashes = chunkBaseFor(retracted, rule, granularity,
        withBarrier = false)
      .select(explode(col("chunks")).as("chunk"))
      .select(md5(col("chunk")).as("ch")).distinct()
    deleteKeyedRows(spark, s"$dir/chunks",
      spark.read.schema(chunksSchema).parquet(s"$dir/chunks"),
      "bucket", "ch", hashes)
  }

  // ----------------------- index maintenance: observability (stats)

  /** Health report for a persisted index — the observability surface
    * that tells an operator WHEN to run [[compactIndex]] instead of
    * guessing: one row per data sub-dataset with
    *
    *   - `n_rows` vs `n_unique_rows`: their gap is exactly the
    *     duplicate-row volume retried/overlapping appends have
    *     accumulated (what compaction's re-distinct reclaims);
    *   - `n_files` / `max_files_per_partition`: the probe-IO
    *     amplification — each append lays up to one file per touched
    *     bucket, so max files per partition ≈ appends since the last
    *     compaction, and a pruned probe opens that many files per
    *     bucket it names (what compaction's repack collapses to 1).
    *
    *   - `max_rows_per_partition` vs `n_rows / n_partitions`: the
    *     PARTITION-POPULATION skew — for the IVF family this is the
    *     rebuild trigger the nlist-sizing contract asks the operator
    *     to watch (appends assign into FROZEN geometry, so a growing
    *     or drifting corpus concentrates rows in hot cells; within-
    *     cell pair scoring grows quadratically in the hot cell's
    *     population, and a probe that lands on it reads the whole
    *     bulge). A max several × the mean says re-derive the geometry
    *     ([[graft.operators.Similarity.rebuildIvfIndex]] with a
    *     larger nlist), which no amount of [[compactIndex]] — layout-
    *     only by design — will fix. For the hash-bucketed families
    *     the same column instead audits KEY skew (a hot LSH band or
    *     chunk hash), the thing the probe-side caps disclose per run.
    *
    * Uniqueness is counted under each family's own compaction key
    * (full row for bands/chunks/pieces/hashes, `doc_id` for shingles,
    * `(vec_id, cell)` for IVF cells) so the report predicts the
    * compacted size exactly. Cost: one file-listing pass plus one
    * count + one distinct-count + one per-partition-count job per
    * sub-dataset — index-sized, the same order as the compaction it
    * gates; run it from the same maintenance window
    * ([[graft.CorpusMain]]'s `stats` line), not per probe.
    */
  def indexStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val family = indexFamily(spark, dir)
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // (n_partitions, n_files, max_files_per_partition, partition col);
    // for a NON-partitioned sub-dataset (a legacy flat shingles/) the
    // report is (0, n, n, None) — the files-per-pruned-bucket ≈
    // appends-since-compaction reading only holds for partitioned
    // datasets, a flat one reports its total file count in both columns
    def fileStats(sub: String): (Int, Int, Int, Option[String]) = {
      val p = new Path(sub)
      if (!fs.exists(p)) return (0, 0, 0, None)
      val entries = fs.listStatus(p).toSeq
      val partDirs = entries.filter(e =>
        e.isDirectory && e.getPath.getName.contains("="))
      def dataFiles(d: Path): Int = fs.listStatus(d)
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      if (partDirs.isEmpty) {
        val n = dataFiles(p)
        (0, n, n, None)
      } else {
        val perPart = partDirs.map(e => dataFiles(e.getPath))
        (partDirs.size, perPart.sum, perPart.max,
          Some(partDirs.head.getPath.getName.split("=").head))
      }
    }

    def row(dataset: String, data: Option[DataFrame],
        distinctOf: DataFrame => DataFrame): (String, String, Long,
        Long, Int, Int, Int, Long) = {
      val (nPart, nFiles, maxPerPart, partCol) =
        fileStats(s"$dir/$dataset")
      val (rows, uniq) = data match {
        case Some(df) => (df.count(), distinctOf(df).count())
        case None => (0L, 0L)
      }
      // population skew under the partition key — one partial-agg job
      // (the skew report must survive duplicate-heavy states, so it
      // counts RAW rows, same basis as n_rows). Reads that PROJECT the
      // partition column away (the shingles reader — pmod(doc_id)
      // buckets are uniform by construction, nothing to audit) report
      // 0 = not-computed, like a non-partitioned dataset.
      val maxRowsPerPart = (data, partCol) match {
        case (Some(df), Some(c))
            if rows > 0 && df.columns.contains(c) =>
          df.groupBy(col(c)).count()
            .agg(max(col("count"))).head().getLong(0)
        case _ => 0L
      }
      (family, dataset, rows, uniq, nPart, nFiles, maxPerPart,
        maxRowsPerPart)
    }

    val rows = family match {
      case "minhash" => Seq(
        row("bands", Some(spark.read.schema(bandsSchema)
          .parquet(s"$dir/bands")), _.distinct()),
        row("shingles", Some(readIndexShingles(spark, dir)),
          _.dropDuplicates("doc_id")))
      case "chunk" => Seq(
        row("chunks", Some(spark.read.schema(chunksSchema)
          .parquet(s"$dir/chunks")), _.distinct()))
      case "hamming" => Seq(
        row("pieces", Some(spark.read.schema(piecesSchema)
          .parquet(s"$dir/pieces")), _.distinct()))
      case "benchmark" => Seq(
        row("hashes", Some(spark.read.schema(benchHashesSchema)
          .parquet(s"$dir/hashes")), _.distinct()))
      case "containment" => Seq(
        row("postings", Some(spark.read.schema(postingsSchema)
          .parquet(s"$dir/postings")), _.distinct()),
        row("shingles", Some(readIndexShingles(spark, dir)),
          _.dropDuplicates("doc_id")))
      case "bm25" => Seq(
        row("postings", Some(spark.read.schema(bm25PostingsSchema)
          .parquet(s"$dir/postings")), _.distinct()),
        row("doclen", Some(spark.read.schema(bm25DoclenSchema)
          .parquet(s"$dir/doclen")), _.dropDuplicates("doc_id")))
      case "ivf" =>
        // inferred schema (extra corpus columns ride in cells/) and an
        // empty-corpus index has no data files — same handling as the
        // compaction path
        val cells =
          try Some(spark.read.parquet(s"$dir/cells"))
          catch {
            case _: org.apache.spark.sql.AnalysisException => None
          }
        val cellRow = Seq(row("cells", cells,
          _.dropDuplicates("vec_id", "cell")))
        // the sq8 layout's f32 re-rank side reports like any other
        // bucketed sub-dataset
        if (Similarity.readIvfStorage(spark, dir)._1 == "sq8")
          cellRow :+ row("vectors",
            Some(spark.read.schema(Similarity.vectorsSchema)
              .parquet(s"$dir/vectors")),
            _.dropDuplicates("vec_id"))
        else cellRow
    }
    import spark.implicits._
    rows.toDF("family", "dataset", "n_rows", "n_unique_rows",
      "n_partitions", "n_files", "max_files_per_partition",
      "max_rows_per_partition")
  }
}
