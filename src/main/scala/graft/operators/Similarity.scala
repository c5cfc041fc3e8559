package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.native

/** Similarity search over an embedding column (extension tier):
  * brute-force cosine top-k as the exact baseline, and an IVF
  * (inverted-file / coarse-quantizer) variant as the scale path.
  *
  * Scale design: queries are the small side and are always broadcast — the
  * corpus never shuffles for the join. Top-k is a window per query over the
  * scored candidates (post-filter, bounded by k·|queries| rows out). The
  * IVF path prunes the corpus to `nprobe` of `nlist` centroid cells before
  * scoring, so scored pairs shrink by ~nprobe/nlist; at 100 TB the corpus
  * would be written bucketed by cell id so a probe is a partition-pruned
  * scan, not a full pass.
  */
object Similarity {

  /** Exact brute-force cosine top-k: score every (query, corpus) pair via
    * the native codegen'd dot product, keep the k best per query.
    * Deterministic tie-break on vec_id. Ranking is the two-phase
    * [[graft.operators.TopK]] aggregate, not a window: with few queries a
    * `Window.partitionBy(query_id)` would funnel all scored pairs through
    * |queries| reducers, while the bounded heap keeps k rows per query per
    * task map-side.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      k: Int = 10): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), col("embedding").as("query_vec")))
    val scored = corpus.join(q, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        native.fvec_cosine(col("query_vec"), col("embedding")).as("cosine"))
    topKByScoreDesc(scored, k)
  }

  /** Shared ranking tail of the top-k family: k best rows per query_id by
    * (score desc, vec_id asc), rank 1-based — desc encoded by negating the
    * score (exact for IEEE doubles and for the bounded quantized longs).
    */
  private def topKByScoreDesc(scored: DataFrame, k: Int,
      score: String = "cosine"): DataFrame =
    graft.operators.TopK.topKPerGroup(scored,
      groupCols = Seq("query_id"),
      sortKey = struct((-col(score)).as("ns"), col("vec_id").as("v")),
      payload = Seq(col("vec_id"), col(score)),
      k = k)
      .select(col("query_id"), col("vec_id"), col(score), col("rank"))

  /** Exact all-pairs cosine-similarity pairs above `threshold` — the
    * brute-force ORACLE BASELINE that [[graft.operators.Dedup
    * .embeddingNearDup]]'s LSH bucketing approximates. O(n²) by
    * construction; for validation on samples, never the scale path. The
    * kernel's sequential double accumulation makes the score bit-exactly
    * reproducible by any engine folding the same order.
    */
  def cosinePairsExact(embeddings: DataFrame,
      threshold: Double): DataFrame = {
    // materialize per-row norms BEFORE the self-join: computed inside the
    // pair projection they cost two O(d) loops per PAIR instead of one
    // per row (2/3 of all-pairs compute). dot/(na·nb) is the exact
    // arithmetic of fvec_cosine, so scores are bit-identical.
    val sides = embeddings.select(col("vec_id"), col("embedding"),
      native.fvec_norm(col("embedding")).as("nrm")).localCheckpoint()
    pairSide(sides, "a").join(pairSide(sides, "b"),
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), pairCosine.as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** One side of a pair self-join over a (vec_id, embedding, nrm)
    * frame: id_<s>, e<s>, n<s>, plus pass-through `keep` columns (e.g.
    * the bucket key). Shared with the semantic-dedup pair search so
    * every pair scorer builds byte-identical projections.
    */
  private[operators] def pairSide(df: DataFrame, s: String,
      keep: Seq[String] = Nil): DataFrame =
    df.select(keep.map(col) ++ Seq(col("vec_id").as(s"id_$s"),
      col("embedding").as(s"e$s"), col("nrm").as(s"n$s")): _*)

  /** THE pair-cosine arithmetic — dot/(na·nb) over [[pairSide]]
    * columns. One definition, so "approx found-pairs ⊆ exact-pairs
    * bit-exactly" ([[graft.operators.Dedup.semanticDedupRecall]]'s
    * contract) cannot drift between scorers.
    */
  private[operators] def pairCosine: org.apache.spark.sql.Column =
    native.fvec_dot(col("ea"), col("eb")) / (col("na") * col("nb"))

  /** `nlist` coarse centroids picked deterministically from the corpus by
    * hash-sampling vec_ids (data-independent, no count() pre-pass — at
    * 100 TB an extra full scan just to size a stride is wasted IO).
    * Returns (cell, centroid), cell = 0..nlist-1. Broadcast-sized.
    *
    * The cell index is assigned on the DRIVER: the sampled rows are
    * nlist·dim floats of index metadata, and a `row_number` window over a
    * post-limit single-partition set plans an unpartitioned WindowExec
    * (Spark warns on every run) for work that is a 16-element sort.
    */
  def ivfCentroids(corpus: DataFrame, nlist: Int = 16): DataFrame = {
    val spark = corpus.sparkSession
    val sampled = corpus
      .orderBy(pmod(xxhash64(col("vec_id")), lit(1000000007L)).asc,
        col("vec_id").asc)
      .limit(nlist)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .sortBy(_.getLong(0))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sampled.zipWithIndex.foreach { case (r, i) =>
      rows.add(org.apache.spark.sql.Row(i, r.getSeq[Float](1)))
    }
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)))))
  }

  /** Centroids collected to the driver: nlist·dim floats — index
    * metadata, not data (16×64 = 4 KB). Every distributed k-means driver
    * holds the centroid set; embedding them as literals lets assignment
    * be a map-only expression instead of a 16×-row-blowup join + shuffle.
    */
  def collectCentroids(cents: DataFrame): Array[(Int, Array[Float])] =
    cents.select(col("cell"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** Per-centroid similarity column `dot(e, c_i)/‖c_i‖` — cosine up to
    * the per-row `‖e‖` factor, which a ranking never needs (a positive
    * per-row scale changes no ordering). Shared by the assignment argmax
    * and the probe top-nprobe so the scoring arithmetic lives once.
    */
  private def centroidSim(embedding: org.apache.spark.sql.Column,
      vec: Array[Float]): org.apache.spark.sql.Column = {
    val nrm = math.sqrt(vec.map(x => x.toDouble * x).sum)
    // zero-norm guard: dividing by 0 yields NaN, and Spark orders NaN
    // ABOVE every double — a degenerate all-zero centroid would silently
    // win the nearestCell argmax for the whole corpus. -Inf instead makes
    // it lose to every real centroid (and sort last in the probe list).
    if (nrm == 0.0) lit(Double.NegativeInfinity)
    else native.fvec_dot(embedding, typedLit(vec.toSeq)) / nrm
  }

  /** Nearest-cell column: argmax over [[centroidSim]] with centroids
    * inlined as literals. Ties go to the lowest cell. Pure projection:
    * NO join, NO shuffle, stays inside whole-stage codegen. At 100 TB
    * this is the bucketing column the corpus is written
    * `bucketBy`/`partitionBy` on.
    */
  def nearestCell(embedding: org.apache.spark.sql.Column,
      centroids: Array[(Int, Array[Float])]): org.apache.spark.sql.Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    val scored = centroids.map { case (cell, vec) =>
      struct(centroidSim(embedding, vec).as("sim"),
        lit(-cell).as("neg_cell"))
    }
    // struct max = (max sim, then max neg_cell = lowest cell);
    // greatest() needs two args — a single cell is a constant assignment
    val best =
      if (scored.length == 1) scored.head
      else greatest(scored.toIndexedSeq: _*)
    (-best.getField("neg_cell")).as("cell")
  }

  /** IVF assignment: each corpus vector → its nearest centroid by cosine,
    * as a map-only argmax projection (see [[nearestCell]]).
    * Returns (vec_id, cell).
    */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame): DataFrame =
    corpus.select(col("vec_id"),
      nearestCell(col("embedding"), collectCentroids(centroids)))

  /** Driver-side spherical k-means over the CENTROID points (index
    * metadata, never data): groups the nlist centroids into ~√nlist
    * cosine-coherent families for [[assignCellsTwoLevel]]. Deterministic
    * (first-G seeds, fixed iterations); empty groups are dropped, so
    * every returned super-direction has ≥ 1 child. Returns
    * (superDirection, children) pairs.
    */
  private def groupCentroids(cents: Array[(Int, Array[Float])],
      g: Int, iters: Int = 8): Array[(Array[Float], Array[(Int, Array[Float])])] = {
    def unit(v: Array[Float]): Array[Double] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (n == 0.0) v.map(_.toDouble) else v.map(_ / n)
    }
    val units = cents.map { case (_, v) => unit(v) }
    var supers = units.take(g)
    var assign = Array.empty[Int]
    for (_ <- 0 until iters) {
      assign = units.map { u =>
        supers.indices.maxBy(i =>
          supers(i).zip(u).map { case (a, b) => a * b }.sum)
      }
      supers = supers.indices.map { i =>
        val members = units.indices.filter(assign(_) == i)
        if (members.isEmpty) supers(i)
        else {
          val dim = units.head.length
          val m = Array.tabulate(dim)(d =>
            members.map(units(_)(d)).sum / members.size)
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n == 0.0) supers(i) else m.map(_ / n)
        }
      }.toArray
    }
    // final pass: memberships must be computed against the RETURNED
    // super-directions, not the pre-update ones — otherwise runtime
    // routing (argmax over the returned supers) can disagree with the
    // family partition and systematically score the wrong children
    assign = units.map { u =>
      supers.indices.maxBy(i =>
        supers(i).zip(u).map { case (a, b) => a * b }.sum)
    }
    supers.indices.flatMap { i =>
      val members = cents.indices.filter(assign(_) == i).map(cents).toArray
      if (members.isEmpty) None
      else Some((supers(i).map(_.toFloat), members))
    }.toArray
  }

  /** Two-level coarse-quantizer assignment. The flat [[nearestCell]]
    * argmax is O(nlist·dim) PER ROW, which caps how far "grow nlist
    * with the corpus" can go — measured at sf1, nlist=256 flat
    * assignment costs more than the 16× pair-scoring it saves
    * (docs/BENCH_SF1.md appendix). Here each row scores only the
    * G ≈ √nlist super-directions, then the matched family's children:
    * O((√nlist + nlist/√nlist)·dim) ≈ 2√nlist·dim per row. The result
    * is an APPROXIMATE nearest cell — a row near a family boundary can
    * land in the second-best family's best child, the standard
    * hierarchical-IVF trade (pinned end-to-end: SimilaritySpec holds
    * the clustered-data IVF recall gate under this quantizer, and
    * DedupSpec floors the dedup-recall gap vs flat at the same scan
    * budget).
    *
    * Still a pure projection: the super argmax materializes once as
    * `__super`, and the child argmax is a CASE over it whose branches
    * each score ONE family's children — codegen executes only the
    * matched branch. No join, no shuffle, no UDF. `multiAssign` > 1
    * explodes over the m nearest families (boundary replication at the
    * family level, the same recall lever as [[assignCells]]); asking
    * for more families than exist is rejected, not silently clamped —
    * the recall reports print the requested m, so a clamp would
    * disclose replication that never happened.
    */
  def assignCellsTwoLevel(corpus: DataFrame,
      centroids: Array[(Int, Array[Float])],
      multiAssign: Int = 1): DataFrame = {
    require(multiAssign >= 1, "multiAssign must be >= 1")
    val g = math.ceil(math.sqrt(centroids.length.toDouble)).toInt
    val groups = groupCentroids(centroids, g)
    require(multiAssign <= groups.length,
      s"multiAssign=$multiAssign exceeds the ${groups.length} centroid " +
        "families (~sqrt(nlist)); lower m or use the flat quantizer")
    val superCents = groups.zipWithIndex.map { case ((s, _), i) => (i, s) }
    val superCol =
      if (multiAssign == 1) nearestCell(col("embedding"), superCents)
      else explode(probeCells(superCents, multiAssign))
    // default branch = family 0's children: semantically unreachable
    // (__super always matches some family) but keeps the CASE total
    val childArgmax = groups.zipWithIndex.tail.foldLeft(
      nearestCell(col("embedding"), groups.head._2)) {
      case (acc, ((_, members), i)) =>
        when(col("__super") === i,
          nearestCell(col("embedding"), members)).otherwise(acc)
    }
    corpus.withColumn("__super", superCol)
      .withColumn("cell", childArgmax)
      .drop("__super")
  }

  /** Lloyd-refined centroids: seed with [[ivfCentroids]], then `iters`
    * rounds of assign → elementwise-mean recompute. Each round is ONE
    * distributed corpus pass (inline argmax assignment feeding a
    * nlist-group aggregate with partial aggregation — nlist rows per
    * task cross the shuffle); the nlist·dim mean vectors come back to
    * the driver, where the centroid table lives between rounds (no
    * per-iteration checkpoint/lineage jobs). Empty cells keep their
    * previous centroid.
    *
    * The mean is ONE [[graft.functions.FloatVecMeanAgg]] aggregate (a
    * `dim`-double buffer per task) — a per-dimension
    * `avg(element_at(e, i))` fan-out would plan `dim` aggregate
    * expressions, each re-walking the array: fine at dim 64, quadratic
    * pain at the 1024+ dims real embedding models emit. Dimension is
    * discovered from the data, not declared.
    */
  def kmeansCentroids(corpus: DataFrame, nlist: Int = 16,
      iters: Int = 2, quantizer: String = "auto"): Array[(Int, Array[Float])] = {
    var cents = collectCentroids(ivfCentroids(corpus, nlist))
    for (_ <- 0 until iters) {
      // the Lloyd pass's own assignment honors the quantizer choice:
      // at nlist≈256 the flat argmax expression outgrows the codegen
      // method budget and the refinement pass — not the pair search —
      // becomes the dominant cost (measured 23 s vs ~1 s two-level at
      // sf1; docs/BENCH_SF1.md appendix)
      val assigned = assignWith(quantizer, corpus, cents, 1)
      val means = assigned
        .groupBy(col("cell"))
        .agg(graft.functions.sketches.fvec_mean(col("embedding"))
          .as("new_centroid"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
        .toMap
      cents = cents.map { case (cell, old) =>
        (cell, means.getOrElse(cell, old))
      }
    }
    cents
  }

  /** Nearest `nprobe` cells per query row, as a pure projection: rank
    * the nlist literal centroids inside one array_sort + slice expression
    * (no centroid join, no window — the probe list is per-row state).
    * Ascending struct sort = best sim first, ties to the lowest cell.
    */
  private[operators] def probeCells(centroids: Array[(Int, Array[Float])],
      nprobe: Int): org.apache.spark.sql.Column = {
    val ranked = centroids.map { case (cell, vec) =>
      struct((-centroidSim(col("embedding"), vec)).as("neg_sim"),
        lit(cell).as("cell"))
    }
    transform(
      slice(array_sort(array(ranked.toIndexedSeq: _*)), 1, nprobe),
      s => s.getField("cell"))
  }

  /** Cell-tag the corpus for the IVF index. `multiAssign` = 1 is the
    * classic single nearest-cell assignment; m > 1 replicates each
    * vector into its m nearest cells ("multiple assignment", Jégou et
    * al., "Product quantization for nearest neighbor search", TPAMI'11
    * §V) — the standard boundary-recall trade: the index grows ×m and a
    * probe reads m·nprobe/nlist of the original corpus volume, buying
    * recall on data whose neighbors straddle cell boundaries. On
    * clustered corpora (the realistic case) m = 1 suffices; isotropic
    * data needs m ≫ 1 because coarse cells carry little signal there.
    */
  def assignCells(corpus: DataFrame,
      centroids: Array[(Int, Array[Float])],
      multiAssign: Int = 1): DataFrame = {
    require(multiAssign >= 1, "multiAssign must be >= 1")
    // probeCells' slice would silently clamp m > nlist while the recall
    // reports print the requested m — reject instead
    require(multiAssign <= centroids.length,
      s"multiAssign=$multiAssign exceeds nlist=${centroids.length}")
    if (multiAssign == 1)
      corpus.withColumn("cell", nearestCell(col("embedding"), centroids))
    else
      corpus.withColumn("cell",
        explode(probeCells(centroids, multiAssign)))
  }

  /** Probe/score/rank tail shared by the inline and written-index IVF
    * paths: queries broadcast, joined to the cell-tagged corpus on the
    * cell key, exact cosine inside probed cells, bounded-heap top-k.
    * `dedupCandidates` must be set when the index is multi-assigned: a
    * candidate present in several probed cells scores once per cell, and
    * without the distinct those duplicates would occupy top-k slots. The
    * dedup shuffle is bounded by the probe output, the same stream the
    * ranking consumes.
    */
  /** The probe join's scored candidate stream (query_id, vec_id,
    * cosine), distinct pairs when `dedupCandidates` — the shared front
    * half of [[probeAndRank]] and [[ivfRecallStats]]. `excludeSelf`
    * (the default — every self-query surface here ranks "other
    * vectors like this one") drops query_id = vec_id pairs; it is
    * only correct when the query ids LIVE IN the corpus id space.
    * EXTERNAL query ids (a stream of eval probes, "more like this"
    * requests) must pass false: the ids are arbitrary, so a numeric
    * collision with a corpus vec_id is not a self-hit, and excluding
    * it would silently drop that document from that query's ranking.
    */
  private def probeScored(cells: CellSource, queries: DataFrame,
      centroids: Array[(Int, Array[Float])],
      nprobe: Int, dedupCandidates: Boolean,
      excludeSelf: Boolean = true): DataFrame = {
    val (indexed, probes) = cells(queries.select(
      col("vec_id").as("query_id"), col("embedding").as("query_vec"),
      explode(probeCells(centroids, nprobe)).as("cell")))
    val joined = indexed.join(broadcast(probes), Seq("cell"))
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("vec_id"))
      else joined
    val scored = kept
      .select(col("query_id"), col("vec_id"),
        native.fvec_cosine(col("query_vec"), col("embedding")).as("cosine"))
    if (dedupCandidates) scored.dropDuplicates("query_id", "vec_id")
    else scored
  }

  private def probeAndRank(cells: CellSource, queries: DataFrame,
      centroids: Array[(Int, Array[Float])], k: Int,
      nprobe: Int, dedupCandidates: Boolean = false,
      excludeSelf: Boolean = true): DataFrame =
    topKByScoreDesc(
      probeScored(cells, queries, centroids, nprobe, dedupCandidates,
        excludeSelf), k)

  /** How a probe opens the cell-tagged corpus, given its (query, cell)
    * probe rows: returns the corpus side and the probe side to join. */
  private type CellSource = DataFrame => (DataFrame, DataFrame)

  /** An inline cell-tagged corpus: the probe rows join it as they are. */
  private def inlineCells(indexed: DataFrame): CellSource =
    probes => (indexed, probes)

  /** A [[writeIvfIndex]] layout's `cells/`, optionally pre-filtered by
    * `predicate`: the probe rows are materialized once, only the cell
    * directories they name are listed and read
    * ([[Dedup.probedBuckets]]), and the probe side carries a
    * vacuously-true comparison, planted on the materialized copy, that
    * marks it likely-selective so dynamic partition pruning fires (the
    * minhash-probe trick). */
  private def storedCells(spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      predicate: Option[org.apache.spark.sql.Column] = None): CellSource = {
    probes =>
      val keys = Barriers.barrier(probes)
      val scan = Dedup.probedBuckets(spark, s"$indexDir/cells", None,
        keys, "cell")
      (predicate.fold(scan)(scan.where), keys.where(col("cell") >= 0))
  }

  /** The nlist above which "auto" switches to the two-level quantizer:
    * the measured crossover (docs/BENCH_SF1.md appendix) — at nlist=64
    * flat and two-level tie; at 256 flat is 3.5× slower end-to-end
    * because its argmax expression outgrows the codegen method budget.
    */
  val AutoTwoLevelAbove = 64

  /** Resolve a quantizer name to a concrete one: "auto" picks "flat"
    * for nlist ≤ [[AutoTwoLevelAbove]] (exact assignment, free at
    * small nlist) and "two-level" above it (the only shape that stays
    * codegen'd there). Explicit names pass through; unknown names
    * fail loudly.
    */
  private[graft] def resolveQuantizer(quantizer: String,
      nlist: Int): String = quantizer match {
    case "auto" => if (nlist <= AutoTwoLevelAbove) "flat" else "two-level"
    case q @ ("flat" | "two-level") => q
    case other => throw new IllegalArgumentException(
      s"unknown quantizer '$other' " +
        "(expected 'flat', 'two-level', or 'auto')")
  }

  /** Corpus cell assignment under the chosen coarse quantizer — the
    * dispatch shared by the inline IVF, the recall gate, the written
    * index, and (via Dedup) the semantic-dedup surface. "flat" =
    * [[assignCells]] (exact nearest cell, O(nlist·d)/row); "two-level"
    * = [[assignCellsTwoLevel]] (approximate, O(2√nlist·d)/row — the
    * large-nlist shape, see docs/BENCH_SF1.md appendix); "auto" =
    * size-based choice via [[resolveQuantizer]].
    */
  /** The ACTUAL family count [[assignCellsTwoLevel]] will see: its
    * require gates on `groupCentroids(...).length`, which drops empty
    * families, so the count can be below the ceil(√nlist) estimate
    * (e.g. duplicate centroids collapse to one family). The auto
    * fallback must decide against this number, not the estimate —
    * groupCentroids is deterministic driver-side arithmetic over
    * nlist points, so recomputing it here is free.
    */
  private def familyCount(centroids: Array[(Int, Array[Float])]): Int =
    groupCentroids(centroids,
      math.ceil(math.sqrt(centroids.length.toDouble)).toInt).length

  /** The CONCRETE quantizer [[assignWith]] will dispatch to — resolves
    * "auto" and applies its multiAssign-exceeds-family-count fallback.
    * [[writeIvfIndex]] stores this name (not the raw argument) so a
    * probe re-creating the assignment replays the exact same dispatch.
    */
  private[operators] def resolvedDispatch(quantizer: String,
      centroids: Array[(Int, Array[Float])], multiAssign: Int): String =
    resolveQuantizer(quantizer, centroids.length) match {
      // "auto" must never make a previously-valid (nlist, multiAssign)
      // combination throw: two-level caps m at the (post-collapse)
      // family count, so when the requested replication exceeds it,
      // stay on the exact flat path (valid up to m = nlist) instead
      case "two-level" if quantizer == "auto" &&
          multiAssign > 1 && multiAssign > familyCount(centroids) =>
        "flat"
      case q => q
    }

  private[operators] def assignWith(quantizer: String, corpus: DataFrame,
      centroids: Array[(Int, Array[Float])],
      multiAssign: Int): DataFrame =
    resolvedDispatch(quantizer, centroids, multiAssign) match {
      case "flat" => assignCells(corpus, centroids, multiAssign)
      case _ => assignCellsTwoLevel(corpus, centroids, multiAssign)
    }

  /** IVF approximate top-k: probe the `nprobe` nearest cells per query,
    * score only vectors in probed cells. Recall < 1 by construction; the
    * exact [[bruteForceTopK]] is the correctness oracle. Centroids are
    * Lloyd-refined when `kmeansIters > 0`.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      nlist: Int = 16, nprobe: Int = 4,
      kmeansIters: Int = 1, multiAssign: Int = 1,
      quantizer: String = "auto"): DataFrame = {
    val centArr =
      if (kmeansIters > 0)
        kmeansCentroids(corpus, nlist, kmeansIters, quantizer)
      else collectCentroids(ivfCentroids(corpus, nlist))
    val indexed = assignWith(quantizer, corpus, centArr, multiAssign)
    probeAndRank(inlineCells(indexed), queries, centArr, k, nprobe,
      dedupCandidates = multiAssign > 1)
  }

  /** One-row honesty report for the IVF path: recall@k against the
    * exact [[bruteForceTopK]] baseline PLUS the price paid for it —
    * `scan_frac` (distinct candidate pairs actually scored / all
    * (query, corpus) pairs) and `probe_frac` (nprobe/nlist, the
    * partition-pruning ratio a [[writeIvfIndex]] layout reads). On
    * clustered data scan_frac ≈ probe_frac at multiAssign = 1; on
    * isotropic data a high recall floor forces multiAssign > 1 and
    * scan_frac discloses the replication cost — the gate cannot
    * silently buy recall with IO.
    */
  def ivfRecallStats(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      nlist: Int = 16, nprobe: Int = 4, kmeansIters: Int = 1,
      multiAssign: Int = 1, quantizer: String = "auto"): DataFrame = {
    val centArr =
      if (kmeansIters > 0)
        kmeansCentroids(corpus, nlist, kmeansIters, quantizer)
      else collectCentroids(ivfCentroids(corpus, nlist))
    val indexed = assignWith(quantizer, corpus, centArr, multiAssign)
    // materialize the scored candidate stream once: the top-k ranking
    // AND the scanned-pair count both consume it, and it is the most
    // expensive stage (cell-tag + probe join) of the whole report
    val scored = probeScored(inlineCells(indexed), queries, centArr, nprobe,
      dedupCandidates = multiAssign > 1).localCheckpoint()
    val exact = bruteForceTopK(corpus, queries, k)
      .select(col("query_id"), col("vec_id"))
    val approx = topKByScoreDesc(scored, k)
      .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
    val recallRow = exact.join(approx, Seq("query_id", "vec_id"), "left")
      .agg(
        (sum(coalesce(col("hit"), lit(0))) / count(lit(1)))
          .as("recall_at_k"),
        count(lit(1)).as("n_exact"))
    // scored already holds distinct pairs: deduped when multiAssign > 1,
    // naturally unique under single assignment (one cell per vector)
    val scanned = scored.agg(count(lit(1)).as("n_scanned"))
    val nCorpus = corpus.agg(count(lit(1)).as("n_corpus"))
    // denominator = scoreable pairs: self-pairs are excluded by the
    // probe filter only where a query IS a corpus row, so subtract the
    // overlap, not |queries| — external query sets would otherwise
    // report scan_frac > 1 at full probing
    val nQueries = queries.select(col("vec_id"))
      .join(corpus.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_overlap"))
      .crossJoin(queries.agg(count(lit(1)).as("n_queries")))
    recallRow.crossJoin(scanned).crossJoin(nCorpus).crossJoin(nQueries)
      .select(col("recall_at_k"), col("n_exact"),
        (col("n_scanned").cast("double") /
          (col("n_queries") * col("n_corpus") - col("n_overlap")))
          .as("scan_frac"),
        lit(nprobe.toDouble / nlist).as("probe_frac"),
        lit(multiAssign).as("multi_assign"))
  }

  /** Materialize the corpus as an on-disk IVF index, SELF-DESCRIBING:
    * `cells/` holds the corpus parquet partitioned by nearest-centroid
    * cell (the 100 TB layout the inline path only simulates — once
    * written, a probe's IO is ∝ nprobe/nlist because the scan reads only
    * probed cell partitions), and `centroids/` persists the centroid
    * vectors themselves. The centroids are part of the index identity:
    * cell tags are meaningless under any OTHER centroid set, so a probe
    * that trusted a caller-supplied array could silently mis-rank — the
    * same stale-params family the dedup indexes' `params/` guard
    * against. [[ivfTopKIndexedSelf]] probes with the STORED centroids;
    * the explicit-centroids [[ivfTopKIndexed]] remains for callers that
    * hold them in memory (one driver read saved). `params/` records the
    * assignment geometry (multi_assign + the RESOLVED quantizer name)
    * for probes that must re-create the assignment itself —
    * [[graft.operators.Dedup.semanticNearDupAgainstIndex]] assigns a
    * new batch under the SAME quantizer dispatch as the stored cells,
    * or the cell-collision condition would silently drift.
    *
    * Crash discipline (the dedup scaffold's, applied to overwrites of
    * an EXISTING index too): the old `centroids/` and `params/` are
    * deleted BEFORE `cells/` is rewritten and the new ones written
    * LAST, so a crash anywhere mid-write leaves an index the
    * self-describing probes refuse (missing centroids/params) — never
    * stale geometry silently vouching for new cells.
    *
    * SIZING `nlist` (the centroid count = cell-partition count): a
    * top-k probe reads `nprobe / nlist` of the index, and a
    * [[graft.operators.Dedup.semanticNearDupAgainstIndex]] batch
    * probe reads the batch's `≤ batch × multiAssign` DISTINCT cells —
    * both pay while those counts sit well below `nlist`. Against that,
    * within-cell work grows as `(corpus / nlist)²` for pair scoring,
    * so nlist must GROW with the corpus to hold cell populations
    * constant (the docs/BENCH_SF1.md q75 note: a fixed nlist=64 over a
    * 10× corpus made pair output ~quadratic — documented contract, not
    * a defect). Same per-append file-count ceiling as the dedup
    * families ([[graft.operators.Dedup.compactIndex]] repacks).
    */
  def writeIvfIndex(corpus: DataFrame, dir: String,
      centroids: Array[(Int, Array[Float])],
      multiAssign: Int = 1, quantizer: String = "auto",
      storage: String = "f32", vecBuckets: Int = 64): Unit = {
    require(storage == "f32" || storage == "sq8",
      s"storage must be 'f32' or 'sq8', got '$storage'")
    require(vecBuckets > 0, s"vecBuckets must be > 0, got $vecBuckets")
    val spark = corpus.sparkSession
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    def rm(p: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(hconf)
      if (fs.exists(path)) fs.delete(path, true)
    }
    Seq(s"$dir/centroids", s"$dir/params").foreach(rm)
    if (storage == "sq8") {
      // SQ8 layout: `cells/` holds one signed byte per dimension
      // ([[sq8Encode]]) — the probed hot-read path shrinks 4× — and
      // the f32 arrays move to `vectors/`, PARTITIONED BY
      // `vbucket = pmod(vec_id, vecBuckets)` so the exact re-rank
      // reads only the candidate ids' buckets (the dedup families'
      // bucketed-shingles economics applied to the re-rank side).
      // the two data writes overlap (Par, guide §2.6): params was
      // deleted above and is re-written LAST, so no reader consumes a
      // half-written layout regardless of which dataset lands first —
      // the append path below keeps its strict vectors-THEN-cells
      // order instead, because there the standing params stays valid
      // throughout and a crash between the two writes must leave
      // unreferenced f32 rows (harmless), never quantized candidates
      // whose exact re-rank rows are missing (the re-rank inner join
      // would silently drop those pairs)
      Par.run(2)(Seq(
        () => corpus.select(col("vec_id"), col("embedding"))
          .withColumn("vbucket", vecBucket(vecBuckets)(col("vec_id")))
          .write.mode("overwrite").partitionBy("vbucket")
          .parquet(s"$dir/vectors"),
        () => assignWith(quantizer, corpus, centroids, multiAssign)
          .withColumn("code", native.sq8_encode(col("embedding")))
          .drop("embedding")
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$dir/cells")))
    } else {
      // an f32 overwrite of a previous sq8 layout must not leave a
      // stale vectors/ behind (params will say f32, so nothing reads
      // it — but a listing-based operator surface would misread the
      // layout)
      rm(s"$dir/vectors")
      assignWith(quantizer, corpus, centroids, multiAssign)
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
    }
    // centroids then params LAST (nlist rows / one row — driver-sized
    // writes): a crash mid-write leaves an index the self-describing
    // probes refuse (no centroids / no params) rather than one probed
    // under the wrong geometry
    centroids.toSeq.map { case (c, v) => (c, v.toSeq) }
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    spark.range(1).select(
      lit(multiAssign).as("multi_assign"),
      lit(resolvedDispatch(quantizer, centroids, multiAssign))
        .as("quantizer"),
      lit(storage).as("storage"),
      lit(if (storage == "sq8") vecBuckets else 0).as("vec_buckets"))
      .write.mode("overwrite").parquet(s"$dir/params")
  }

  /** The vectors/ partition expression of the SQ8 layout — INT like
    * every other index partition column (a cast on the partition
    * attribute defeats dynamic partition pruning). */
  private def vecBucket(n: Int)(id: org.apache.spark.sql.Column) =
    pmod(id, lit(n.toLong)).cast("int")

  // vectors/ probe-side schema declared explicitly (no footer-listing
  // inference per probe; an empty corpus' partitionBy writes no files)
  private[operators] val vectorsSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("vbucket",
        org.apache.spark.sql.types.IntegerType)))

  /** The stored cell-data representation of a [[writeIvfIndex]] layout:
    * ("f32", 0) — the classic layout, cells/ holds the float arrays —
    * or ("sq8", vecBuckets) — cells/ holds int8 codes and the f32
    * arrays live in vectors/ under vecBuckets id-hash partitions.
    * Indexes written before the storage column existed are f32.
    *
    * Cached per JVM under the `params/` file stamp
    * ([[IndexMeta.cached]]): the dispatch runs on EVERY indexed probe
    * (and once per streaming micro-batch inside
    * [[Dedup.semanticNearDupAgainstIndex]]'s f32 guard), and paying a
    * driver-side parquet job each time would re-install exactly the
    * per-trigger floor the bridges' metadata cache removed. A rebuild
    * that flips the layout rewrites `params/`, re-stamping the key. */
  def readIvfStorage(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, Int) =
    IndexMeta.cached(spark, "ivf-storage", dir) {
      val df = spark.read.parquet(s"$dir/params")
      if (df.schema.fieldNames.contains("storage")) {
        val r = df.head()
        (r.getAs[String]("storage"), r.getAs[Int]("vec_buckets"))
      } else ("f32", 0)
    }

  /** Fold a NEW vector batch into a [[writeIvfIndex]] layout — the
    * append half of the embedding modality's weekly-refresh lifecycle
    * (probe with [[graft.operators.Dedup.semanticNearDupAgainstIndex]],
    * fold in here), completing what the dedup families' `mode =
    * "append"` already provides. The batch is cell-tagged with the
    * STORED centroids under the STORED resolved-quantizer/multi-assign
    * geometry ([[readIvfCentroids]]/[[readIvfIndexParams]] — caller
    * arguments are never trusted for geometry, the same rule as
    * [[graft.operators.Dedup.semanticNearDupAgainstIndex]]), so
    * appended cells are exactly the cells a whole-corpus rewrite would
    * assign.
    *
    * `centroids/` and `params/` are NOT touched: an append changes
    * membership, not identity — which is also the crash contract. A
    * crash mid-append leaves some cell partitions with the batch's
    * rows and others without, under valid stored geometry; retry the
    * SAME append — idempotent at the duplicate-(vec_id, cell)-row
    * price, which probes tolerate (multi-assign probes already
    * post-distinct) and [[graft.operators.Dedup.compactIndex]]
    * removes. A missing/invalid index refuses loudly (no params — the
    * families' shared bootstrap rule: create with [[writeIvfIndex]]).
    *
    * The batch must carry the indexed corpus' columns (at least
    * `vec_id`, `embedding`, plus whatever extras were indexed) — a
    * column-set mismatch is refused rather than silently writing a
    * mixed-schema cell dataset.
    */
  def appendIvfIndex(batch: DataFrame, dir: String): Unit = {
    val spark = batch.sparkSession
    val cents = readIvfCentroids(spark, dir)
    val (multiAssign, quantizer) = readIvfIndexParams(spark, dir)
    val (storage, vecBuckets) = readIvfStorage(spark, dir)
    val stored =
      try Some(spark.read.parquet(s"$dir/cells").schema.fieldNames.toSet)
      catch {
        // an index over an EMPTY corpus has no cell files to infer
        // from — nothing to mismatch against
        case _: org.apache.spark.sql.AnalysisException => None
      }
    stored.foreach { cols =>
      // under sq8 storage the batch carries `embedding` where the
      // stored cells carry `code` — the batch is always the RAW shape
      val batchCols =
        if (storage == "sq8")
          batch.columns.toSet - "embedding" + "code" + "cell"
        else batch.columns.toSet + "cell"
      require(batchCols == cols,
        s"appendIvfIndex: batch columns ${batch.columns.sorted.mkString(",")} " +
          s"do not match the indexed corpus' ${cols.toSeq.sorted.mkString(",")}")
    }
    if (storage == "sq8") {
      // same write order as [[writeIvfIndex]]'s sq8 path, same reason
      batch.select(col("vec_id"), col("embedding"))
        .withColumn("vbucket", vecBucket(vecBuckets)(col("vec_id")))
        .write.mode("append").partitionBy("vbucket")
        .parquet(s"$dir/vectors")
      assignWith(quantizer, batch, cents, multiAssign)
        .withColumn("code", native.sq8_encode(col("embedding")))
        .drop("embedding")
        .write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
    } else
      assignWith(quantizer, batch, cents, multiAssign)
        .write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** Re-train a [[writeIvfIndex]] layout's geometry over its CURRENT
    * contents — the rebuild leg of the IVF lifecycle, and the
    * maintenance answer to the documented degradation contract on
    * [[writeIvfIndex]]: appends fold new vectors in under FROZEN
    * centroids, so cell populations grow ~linearly with the corpus and
    * within-cell pair scans grow ~quadratically; when a season of
    * appends has outgrown the geometry, rebuild with a larger `nlist`
    * restores constant cell populations. ([[graft.operators.Dedup
    * .compactIndex]] repacks the file layout but keeps the geometry;
    * this re-derives the geometry itself.)
    *
    * Steps: (1) the distinct corpus (unique `vec_id`s — retried
    * appends' duplicate rows collapse here, extra indexed columns kept)
    * is STAGED to `dir/rebuild_staged` — a durable copy is required
    * because step 3 overwrites the very `cells/` files it was read
    * from, and it doubles as the crash-recovery artifact; (2) k-means
    * re-trains `nlist` centroids over the staged corpus
    * ([[kmeansCentroids]]); (3) [[writeIvfIndex]] rewrites the index
    * from the staged corpus under the new geometry — its own
    * delete-params-first ordering makes the index REFUSED (not stale)
    * for the whole rewrite window; (4) the staging dir is removed.
    * Probes in flight during the window fail loudly on the missing
    * `params/` — the single-writer discipline every maintenance pass
    * here shares.
    *
    * Crash contract: before step 3's first delete the old index is
    * fully intact (a leftover staging dir is swept by the next
    * rebuild); from then until completion `params/` is absent and
    * every self-describing probe refuses. Recovery: re-run
    * `rebuildIvfIndex` — it detects the missing `params/`, resumes
    * from the staged corpus, and (only then) requires `multiAssign` /
    * `quantizer` explicitly, because the stored copy of the geometry
    * died with `params/`.
    *
    * `multiAssign`/`quantizer` default to the STORED values (geometry
    * knobs survive a resize unless the caller overrides). When growing
    * `nlist` far enough that a stored resolved `"twolevel"` dispatch's
    * family count changes, pass `quantizer = "auto"` to re-resolve
    * against the new size.
    */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, nlist: Int, iters: Int = 2,
      multiAssign: Int = 0, quantizer: String = "",
      storage: String = "", vecBuckets: Int = 0): Unit =
    // single-writer lease: a rebuild's refuse-window (params/ absent)
    // spans the whole rewrite — a concurrent append/refresh/maintain
    // must refuse up front, not half-interleave with the staging
    graft.operators.Lease.withLeases(spark, Seq(dir),
      "rebuildIvfIndex") {
    import org.apache.hadoop.fs.Path
    val staged = new Path(s"$dir/rebuild_staged")
    val fs = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val resuming = !fs.exists(new Path(s"$dir/params"))
    if (resuming) {
      require(fs.exists(staged),
        s"rebuildIvfIndex: $dir has neither params/ (a valid index) " +
          "nor rebuild_staged/ (a crashed rebuild to resume)")
      require(multiAssign >= 1 && quantizer.nonEmpty && storage.nonEmpty,
        "rebuildIvfIndex recovery: the stored geometry died with " +
          "params/ — pass multiAssign, quantizer, and storage " +
          "explicitly (and vecBuckets for storage=sq8)")
      require(storage != "sq8" || vecBuckets >= 1,
        "rebuildIvfIndex recovery: storage=sq8 needs vecBuckets")
      rebuildStaged(spark, dir, staged, nlist, iters, multiAssign,
        quantizer, storage, math.max(vecBuckets, 1))
    } else {
      val (sm, sq) = readIvfIndexParams(spark, dir)
      val (ss, svb) = readIvfStorage(spark, dir)
      if (fs.exists(staged)) fs.delete(staged, true)
      // the staged corpus is always the RAW (embedding-carrying)
      // shape: under sq8 storage the f32 arrays come back from
      // vectors/ joined to the cells' extra columns, so retraining
      // sees exact floats, never dequantized codes
      val base = spark.read.parquet(s"$dir/cells")
        .dropDuplicates("vec_id").drop("cell")
      val raw =
        if (ss == "sq8")
          base.drop("code").join(
            spark.read.schema(vectorsSchema).parquet(s"$dir/vectors")
              .select(col("vec_id"), col("embedding"))
              .dropDuplicates("vec_id"),
            Seq("vec_id"))
        else base
      raw.write.parquet(staged.toString)
      val effStorage = if (storage.nonEmpty) storage else ss
      rebuildStaged(spark, dir, staged, nlist, iters,
        if (multiAssign >= 1) multiAssign else sm,
        if (quantizer.nonEmpty) quantizer else sq,
        effStorage,
        // an f32→sq8 CONVERSION has no stored vecBuckets to inherit
        // (svb is 0 for f32); falling to 1 would put the whole f32
        // re-rank side in a single vbucket partition — every probe's
        // "bucket-pruned" exact re-rank then scans the entire corpus.
        // Inherit the stored value, else the write-path default.
        if (vecBuckets >= 1) vecBuckets
        else if (svb >= 1) svb
        else if (effStorage == "sq8") 64
        else 1)
    }
    }

  private def rebuildStaged(spark: org.apache.spark.sql.SparkSession,
      dir: String, staged: org.apache.hadoop.fs.Path, nlist: Int,
      iters: Int, multiAssign: Int, quantizer: String,
      storage: String, vecBuckets: Int): Unit = {
    val corpus = spark.read.parquet(staged.toString)
    val cents = kmeansCentroids(corpus, nlist, iters, quantizer)
    writeIvfIndex(corpus, dir, cents, multiAssign, quantizer,
      storage, vecBuckets)
    val fs = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(staged, true)
  }

  /** The stored assignment geometry of a [[writeIvfIndex]] layout:
    * (multi_assign, resolved quantizer name). One driver-sized read,
    * cached per JVM on the `params/` stamp ([[IndexMeta.cached]]). */
  def readIvfIndexParams(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Int, String) =
    IndexMeta.cached(spark, "ivf-params", dir) {
      val r = spark.read.parquet(s"$dir/params").head()
      (r.getAs[Int]("multi_assign"), r.getAs[String]("quantizer"))
    }

  /** The stored centroid set of a [[writeIvfIndex]] layout, in cell
    * order — nlist rows to the driver, the same scale class as
    * [[collectCentroids]]. Cached on the `params/` stamp: every write
    * of `centroids/` ([[writeIvfIndex]], [[rebuildIvfIndex]]) rewrites
    * `params/` after it. Callers must not mutate the returned arrays. */
  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[(Int, Array[Float])] =
    IndexMeta.cached(spark, "ivf-centroids", dir) {
      spark.read.parquet(s"$dir/centroids").collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
    }

  /** IVF top-k over a [[writeIvfIndex]] layout: the broadcast probe join
    * keys on the PARTITION column, so Spark's dynamic partition pruning
    * restricts the parquet scan to probed cells — the full-corpus scan
    * of the inline path becomes partition-pruned IO. Same scores/ranking
    * as [[ivfTopK]] with the same centroids. Set `multiAssigned` when
    * the index was written with `multiAssign > 1` so duplicate
    * candidates collapse before ranking. The `centroids` argument MUST
    * be the array the index was written with — use
    * [[ivfTopKIndexedSelf]] when in doubt (it reads the stored copy).
    *
    * On an SQ8-storage index the probe is the two-stage
    * [[sq8ProbeAndRank]]: quantized scan of the probed cells (4×
    * fewer bytes), then exact re-rank of the `rerank` best candidates
    * per query from the bucket-pruned f32 `vectors/`. `rerank` (0 =
    * the 4·k default) tunes recall against re-rank IO; with `rerank`
    * ≥ the probed candidate count the result is BIT-IDENTICAL to the
    * f32 probe at the same nprobe (every candidate re-scored exactly
    * — q108's hash-proven contract). Ignored on f32 storage.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame,
      centroids: Array[(Int, Array[Float])], k: Int = 10,
      nprobe: Int = 4, multiAssigned: Boolean = false,
      rerank: Int = 0, excludeSelf: Boolean = true): DataFrame =
    readIvfStorage(spark, indexDir) match {
      case ("sq8", vb) => sq8ProbeAndRank(spark, indexDir, queries,
        centroids, k, nprobe, rerank, multiAssigned, None, vb,
        excludeSelf)
      case _ => probeAndRank(storedCells(spark, indexDir),
        queries, centroids, k, nprobe, dedupCandidates = multiAssigned,
        excludeSelf = excludeSelf)
    }

  /** [[ivfTopKIndexed]] probing with the index's own STORED centroids —
    * the self-describing form: no caller-held state, no way to probe
    * under mismatched geometry. q84 runs this at nprobe = nlist against
    * the brute-force oracle, hash-proving the centroid parquet
    * round-trip end-to-end.
    *
    * `excludeSelf` (default true — the self-query shape every batch
    * surface here probes) assumes query ids live in the CORPUS id
    * space. Pass false for EXTERNAL query ids (streamed eval probes,
    * "more like this" requests keyed by request id): there a numeric
    * collision between a query id and a corpus vec_id is not a
    * self-hit, and the default filter would silently drop that
    * document from that query's ranking. */
  def ivfTopKIndexedSelf(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, k: Int = 10,
      nprobe: Int = 4, multiAssigned: Boolean = false,
      rerank: Int = 0, excludeSelf: Boolean = true): DataFrame =
    ivfTopKIndexed(spark, indexDir, queries,
      readIvfCentroids(spark, indexDir), k, nprobe, multiAssigned,
      rerank, excludeSelf)

  /** FILTERED ANN against a written IVF index: top-k restricted to
    * index vectors satisfying `predicate` (over the cells/ columns —
    * the extra corpus columns the caller indexed alongside (vec_id,
    * embedding), e.g. a label, source, or license column). The
    * predicate is applied as a PRE-filter inside the probed scan, not
    * a post-filter of an unfiltered top-k — post-filtering returns
    * fewer than k rows (or none) whenever the filter is selective,
    * while this returns the k best MATCHING vectors of the probed
    * cells. Plan shape: the predicate lands in the parquet scan's
    * pushed filters next to the cell pruning, so a selective filter
    * also cuts IO, not just candidates (PlanSpec pins the pushdown);
    * at `nprobe = nlist` the result is EXACT filtered top-k (q103's
    * hash-proven contract), at smaller nprobe the usual IVF recall
    * trade applies per cell actually probed.
    *
    * On an SQ8-storage index the predicate filters the QUANTIZED
    * scan (cells/ carries the extra columns), candidates re-rank
    * exactly from `vectors/` — the [[ivfTopKIndexed]] sq8 contract
    * with the same `rerank` knob: at nprobe = nlist and rerank ≥ the
    * matching candidate count the result is exact filtered top-k,
    * bit-identical to the f32 layout's.
    */
  def ivfTopKIndexedWhere(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame,
      predicate: org.apache.spark.sql.Column, k: Int = 10,
      nprobe: Int = 4, multiAssigned: Boolean = false,
      rerank: Int = 0): DataFrame =
    readIvfStorage(spark, indexDir) match {
      case ("sq8", vb) => sq8ProbeAndRank(spark, indexDir, queries,
        readIvfCentroids(spark, indexDir), k, nprobe, rerank,
        multiAssigned, Some(predicate), vb)
      case _ => probeAndRank(
        storedCells(spark, indexDir, Some(predicate)),
        queries, readIvfCentroids(spark, indexDir), k, nprobe,
        dedupCandidates = multiAssigned)
    }

  /** The SQ8 probe: quantized candidate scan, then exact re-rank —
    * [[sq8TopK]]'s two stages mapped onto the persisted layout so BOTH
    * stages stay IO-pruned at 100 TB:
    *
    *   1. the probe join keys on the `cells/` PARTITION column with
    *      the broadcast (query, probed-cell) pairs, so dynamic
    *      partition pruning restricts the scan to probed cells — and
    *      each scanned row is d BYTES of code, not 4d of floats (the
    *      4× the storage bought); the quantized cosine ranks
    *      candidates and the best `rerank` per query survive;
    *   2. the survivors (≤ rerank·|queries| rows — candidate-scale,
    *      broadcastable by the same argument as the probe itself)
    *      carry their DERIVED `vbucket = pmod(vec_id, vecBuckets)`
    *      into a broadcast join against `vectors/`, so the f32 read
    *      prunes to the candidates' buckets (file IO ∝ candidates,
    *      the bucketed-shingles verify economics) — and the exact
    *      [[native.fvec_cosine]] arithmetic (every exact surface's)
    *      re-scores them for the final k.
    *
    * With rerank ≥ all probed candidates stage 2 re-scores everything
    * and the output is bit-identical to the f32 probe at the same
    * nprobe; at production rerank (a few × k) the quantized stage's
    * ranking error is confined to the tail [[sq8RecallStats]]
    * quantifies. Retried-append duplicate rows collapse before
    * ranking (codes) and before re-scoring (vectors).
    */
  private def sq8ProbeAndRank(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame,
      centroids: Array[(Int, Array[Float])], k: Int, nprobe: Int,
      rerank: Int, multiAssigned: Boolean,
      predicate: Option[org.apache.spark.sql.Column],
      vecBuckets: Int, excludeSelf: Boolean = true): DataFrame = {
    val r = if (rerank > 0) rerank else 4 * k
    val (scan, probes) = storedCells(spark, indexDir, predicate)(
      queries.select(
        col("vec_id").as("query_id"),
        native.sq8_encode(col("embedding")).as("qcode"),
        explode(probeCells(centroids, nprobe)).as("cell")))
    val joined = scan.join(broadcast(probes), Seq("cell"))
    // same external-vs-corpus id-space rule as probeScored: the
    // self filter only means "self" when query ids ARE corpus ids
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("vec_id"))
      else joined
    val scored = kept
      .select(col("query_id"), col("vec_id"),
        native.i8vec_cosine(col("qcode"), col("code")).as("cosine8"))
    // multi-assigned indexes hold a candidate once per assigned cell;
    // a retried append holds whole rows twice — both collapse here so
    // duplicates cannot occupy re-rank slots
    val distinctScored =
      if (multiAssigned) scored.dropDuplicates("query_id", "vec_id")
      else scored
    val cand = topKByScoreDesc(distinctScored, r, score = "cosine8")
      .select(col("query_id"), col("vec_id"))
      .withColumn("vbucket", vecBucket(vecBuckets)(col("vec_id")))
      .where(col("vec_id") >= lit(Long.MinValue)) // DPP marker
    val vecs = spark.read.schema(vectorsSchema)
      .parquet(s"$indexDir/vectors")
      .join(broadcast(cand), Seq("vbucket", "vec_id"))
      // a retried append's duplicate vector rows re-score identically
      // but would duplicate output pairs
      .dropDuplicates("query_id", "vec_id")
    val qv = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("query_vec")))
    topKByScoreDesc(
      vecs.join(qv, Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          native.fvec_cosine(col("query_vec"), col("embedding"))
            .as("cosine")),
      k)
  }

  /** Engine-portable exact top-k on quantized vectors: components rounded
    * to 1e-3 and summed as integers, so the score is exactly reproducible
    * across engines (used by the DuckDB oracle; float summation order is
    * not).
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame,
      k: Int = 10, scale: Int = 1000): DataFrame = {
    val qz: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      v => transform(v, x => round(x.cast("double") * scale).cast("long"))
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), qz(col("embedding")).as("query_vec")))
    val scored = corpus
      .select(col("vec_id"), qz(col("embedding")).as("vec"))
      .join(q, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        aggregate(zip_with(col("query_vec"), col("vec"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("dot"))
    topKByScoreDesc(scored, k, score = "dot")
  }

  // ------------------------------ SQ8 scalar-quantized search (int8)

  /** (vec_id, code) — each embedding L2-normalized and quantized to
    * one SIGNED byte per dimension ([[graft.functions
    * .FloatVecSq8Expr]]): the 4×-smaller representation the quantized
    * scan reads instead of the f32 arrays. Calibration-free by
    * construction (normalize-then-quantize), so codes from different
    * batches/corpora are always comparable — encode once, store next
    * to (or instead of) the float column, re-encode never.
    */
  def sq8Encode(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
      native.sq8_encode(col("embedding")).as("code"))

  /** Brute-force top-k under SQ8 quantized cosine, with optional
    * exact re-rank — the memory-bandwidth flavor of
    * [[bruteForceTopK]]: the scan reads d BYTES per corpus vector
    * instead of 4d (the dominant cost of a brute-force pass at scale
    * is IO/bandwidth, not arithmetic), scores the integer dot over
    * the codes' own norms, and
    *
    *   - `rerank = 0`: returns the quantized ranking directly
    *     (column `cosine8` — an estimate; [[sq8RecallStats]] is the
    *     honesty row quantifying it against the exact ranking);
    *   - `rerank = r > 0`: keeps the r best quantized candidates per
    *     query, re-scores EXACTLY those against the f32 vectors
    *     (same [[native.fvec_cosine]] arithmetic as every exact
    *     surface), and returns the exact-cosine top-k — IO still ∝
    *     corpus BYTES at d/4 the f32 cost plus r f32 rows per query.
    *     With r ≥ |corpus| the result is BIT-IDENTICAL to
    *     [[bruteForceTopK]] (every pair re-scored exactly —
    *     SimilaritySpec pins it), so r tunes recall against re-rank
    *     IO with a proven exact endpoint.
    *
    * Both sides are encoded here from their `embedding` column;
    * pre-encoded corpora join their stored codes instead (the
    * encode is a map-only projection either way).
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      rerank: Int = 0): DataFrame = {
    val q = broadcast(sq8Encode(queries)
      .select(col("vec_id").as("query_id"), col("code").as("qcode")))
    val scored = sq8Encode(corpus)
      .join(q, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        native.i8vec_cosine(col("qcode"), col("code")).as("cosine8"))
    if (rerank <= 0) topKByScoreDesc(scored, k, score = "cosine8")
    else {
      val cand = topKByScoreDesc(scored, rerank, score = "cosine8")
        .select(col("query_id"), col("vec_id"))
      val qv = broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec")))
      val rescored = cand
        .join(corpus.select(col("vec_id"), col("embedding")),
          Seq("vec_id"))
        .join(qv, Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          native.fvec_cosine(col("query_vec"), col("embedding"))
            .as("cosine"))
      topKByScoreDesc(rescored, k)
    }
  }

  /** The SQ8 honesty row — [[ivfRecallStats]]' role for the quantized
    * ranking: recall@k of the PURE quantized top-k (`rerank = 0`)
    * against [[bruteForceTopK]], plus the storage facts the trade
    * buys (bytes per vector, f32 vs code — the 4× the scan saves).
    * One row: (recall_at_k, n_exact, dim, f32_bytes_per_vec,
    * code_bytes_per_vec).
    */
  def sq8RecallStats(corpus: DataFrame, queries: DataFrame,
      k: Int = 10): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, k)
      .select(col("query_id"), col("vec_id"))
    val approx = sq8TopK(corpus, queries, k)
      .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
    val dim = corpus.agg(max(size(col("embedding"))).as("d"))
    exact.join(approx, Seq("query_id", "vec_id"), "left")
      .agg(
        (sum(coalesce(col("hit"), lit(0))) / count(lit(1)))
          .as("recall_at_k"),
        count(lit(1)).as("n_exact"))
      .crossJoin(dim)
      .select(col("recall_at_k"), col("n_exact"),
        col("d").as("dim"), (col("d") * 4).as("f32_bytes_per_vec"),
        col("d").cast("int").as("code_bytes_per_vec"))
  }

  /** The honesty row for the PRODUCTION fused-SQ8 probe shape —
    * [[ivfRecallStats]]' role for [[ivfTopKIndexedSelf]] over an
    * sq8-storage index at partial nprobe and bounded rerank (the q109
    * shape): recall@k against [[bruteForceTopK]] over the index's OWN
    * exact f32 side (`vectors/` — the reference is the stored corpus,
    * so the row measures the probe, not ingest drift), with the two
    * knobs that bought the speed disclosed next to it (`probe_frac` =
    * nprobe/nlist partition pruning, `rerank_per_query` = the exact
    * re-score budget; 0 in = the 4·k default out). The recall loss
    * decomposes into cell-miss (nprobe, shared with the f32 probe)
    * and quantized-ranking-tail-miss (rerank, the sq8-specific part
    * [[sq8RecallStats]] isolates at full corpus scan).
    */
  def sq8IndexedRecallStats(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, k: Int = 10,
      nprobe: Int = 4, rerank: Int = 0): DataFrame = {
    val corpus = spark.read.schema(vectorsSchema)
      .parquet(s"$indexDir/vectors")
      .select(col("vec_id"), col("embedding"))
      .dropDuplicates("vec_id") // retried-append rows
    val nlist = readIvfCentroids(spark, indexDir).length
    // the stored multi-assign drives candidate dedup — an m-a index
    // probed without it would waste re-rank slots on duplicates and
    // understate the recall the budget actually buys
    val (multiAssign, _) = readIvfIndexParams(spark, indexDir)
    val exact = bruteForceTopK(corpus, queries, k)
      .select(col("query_id"), col("vec_id"))
    val approx = ivfTopKIndexedSelf(spark, indexDir, queries, k,
        nprobe, multiAssigned = multiAssign > 1, rerank = rerank)
      .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "vec_id"), "left")
      .agg(
        (sum(coalesce(col("hit"), lit(0))) / count(lit(1)))
          .as("recall_at_k"),
        count(lit(1)).as("n_exact"))
      .select(col("recall_at_k"), col("n_exact"),
        lit(nprobe.toDouble / nlist).as("probe_frac"),
        lit(if (rerank > 0) rerank else 4 * k).as("rerank_per_query"))
  }
}
