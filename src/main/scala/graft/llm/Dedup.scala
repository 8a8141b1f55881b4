package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Every method here is a pure DataFrame transformation built from codegen'd
  * built-ins (no UDFs, no driver-side loops — the one exception is
  * [[connectedComponents]], which labels a graph of at most 100 000 pairs
  * on the driver), so the same code runs unchanged on a 1000-executor
  * cluster:
  *  - exact:   one hash shuffle on the dedup key.
  *  - MinHash: shingle → per-seed min-hash → band → bucket self-join. The LSH
  *    banding bounds the join to same-bucket candidates (never an all-pairs
  *    cross join), the verified Jaccard filter removes false positives.
  *  - SimHash: 64-bit fingerprint via per-bit majority vote over token hashes;
  *    near-dup pairs found by chunk-PAIR banding derived from maxDistance
  *    (distance ≤ d over d+2 chunks leaves ≥2 chunks intact, by pigeonhole).
  *  - n-gram Jaccard: exact verification used by both LSH paths.
  *
  * Every banded path bounds bucket sizes (see bucketCandidates): a hot bucket
  * degrades to linear star links instead of a quadratic self-join, which is
  * the difference between passing sf0.1 and surviving a boilerplate-heavy
  * 100 TB corpus.
  */
object Dedup {

  /** Exact dedup: keep one row per key — the row with the smallest tiebreaker.
    * One shuffle on `keys`; with AQE skew handling a hot key splits
    * automatically.
    */
  def exact(df: DataFrame, keys: Seq[String], tiebreaker: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tiebreaker))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Exact dedup keeping the BEST copy per key: the row maximizing
    * `quality` (ties broken by the smallest `tiebreaker`) — quality-aware
    * retention, the curation-pipeline refinement of [[exact]]: formatting
    * variants collapse onto the longest / highest-scored copy instead of
    * whichever has the smallest id. Same single-shuffle shape as [[exact]]
    * (Catalyst rewrites the rank-1 filter into a WindowGroupLimit, so each
    * map partition forwards one candidate per key before the shuffle).
    */
  def exactBest(df: DataFrame, keys: Seq[String], quality: Column,
      tiebreaker: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(quality.desc, col(tiebreaker))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Segment-level duplication stats (CCNet/C4-style paragraph dedup, scored
    * at document granularity): cut each document into consecutive
    * `segWords`-word segments, fingerprint every segment (md5 — cheap, stable
    * across engines), and count how many of a document's segments also occur
    * in at least one OTHER document.
    *
    * Shape at scale: explode → one shuffle keyed on the 128-bit segment hash
    * for the global frequency aggregate (partial map-side combine collapses
    * repeats before the exchange), then one shuffle back on the doc id. Text
    * itself never shuffles — only (doc_id, hash) pairs. A boilerplate segment
    * shared by millions of docs is a single hot aggregate key (fine under
    * partial agg). The flag join back to instances reuses the frequency
    * exchange; when the distinct-segment table is small AQE converts it to a
    * broadcast join at runtime (observed at 400k docs), and when it is huge
    * the sort-merge join's hot-key partition is a sequential merge, not a
    * blow-up — instances of one hash meet exactly one count row.
    *
    * Output: `idCol, n_segments, n_shared_segments` for documents with at
    * least one shared segment.
    */
  /** md5 of every consecutive `segWords`-word segment of `text`, as an array
    * (md5 rather than xxhash64 so the DuckDB oracle can replicate it).
    */
  private def segmentHashes(text: Column, segWords: Int): Column =
    graft.functions.Let.bind(
      split(text, " "),
      w =>
        transform(
          TextStats.safeSeq(ceil(size(w).cast("double") / segWords).cast("int")),
          i => md5(concat_ws(" ", slice(w, (i - 1) * segWords + 1, lit(segWords))))
        )
    )

  def segmentDupStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      segWords: Int = 8): DataFrame = {
    val segs = df
      .select(col(idCol), explode(segmentHashes(col(textCol), segWords)).as("_h"))

    val freq = segs
      .groupBy(col("_h"))
      .agg(count_distinct(col(idCol)).as("_nd"))

    segs
      .join(freq, "_h")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("_nd") > 1, 1L).otherwise(0L)).as("n_shared_segments"))
      .filter(col("n_shared_segments") > 0)
  }

  /** Edit-robust chunk-level duplication stats: [[segmentDupStats]] with
    * content-defined boundaries ([[graft.functions.CdcChunksExpr]]) instead
    * of fixed word windows. Fixed-width segments all shift after ONE
    * inserted character, so a lightly-edited copy shares almost nothing
    * with its original; CDC boundaries re-synchronize right after the edit,
    * so the copy still shares every untouched chunk — the standard
    * backup/dedup-system trick applied to corpus near-dup detection.
    *
    * Same shape at scale as [[segmentDupStats]]: chunking is a narrow
    * codegen'd pass, then only (doc_id, 64-bit chunk hash) pairs travel —
    * one hash-keyed frequency shuffle, one doc-keyed aggregate; text never
    * shuffles. Output: `idCol, n_chunks, n_shared_chunks` for documents
    * sharing at least one chunk.
    */
  def cdcDupStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 32,
      maskBits: Int = 6,
      maxLen: Int = 512): DataFrame = {
    val chunks = Chunking
      .chunkByContent(df.select(col(idCol), col(textCol)), textCol,
        minLen, maskBits, maxLen)
      .select(col(idCol), col("chunk_hash").as("_h"))
    val freq = chunks
      .groupBy(col("_h"))
      .agg(count_distinct(col(idCol)).as("_nd"))
    chunks
      .join(freq, "_h")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("_nd") > 1, 1L).otherwise(0L)).as("n_shared_chunks"))
      .filter(col("n_shared_chunks") > 0)
  }

  /** Cross-group contamination audit: for every pair of groups (sources,
    * train/eval splits, snapshots), the number of distinct `segWords`-word
    * segments they share — the paragraph-level overlap matrix a pipeline
    * checks before mixing sources or trusting a split boundary.
    *
    * Shape at scale: segments dedupe to DISTINCT (group, hash) pairs first
    * (map-side combinable aggregate), so the self-join's per-key fan-out is
    * bounded by the number of GROUPS carrying the segment, never by document
    * counts — a boilerplate segment in every doc of all G groups contributes
    * G·(G−1)/2 pairs, not |docs|². Output is at most G² rows.
    */
  def crossGroupOverlap(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      segWords: Int = 8): DataFrame = {
    val segs = df
      .select(col(groupCol).as("_g"), explode(segmentHashes(col(textCol), segWords)).as("_h"))
      .distinct()
    segs.as("a")
      .join(segs.as("b"), col("a._h") === col("b._h") && col("a._g") < col("b._g"))
      .groupBy(col("a._g").as(s"${groupCol}_a"), col("b._g").as(s"${groupCol}_b"))
      .agg(count(lit(1)).as("shared_segments"))
  }

  /** Segment-level CLEANING (the removal counterpart of
    * [[segmentDupStats]], CCNet/C4-style): split every document into
    * consecutive `segWords`-word segments, count how many distinct documents
    * carry each segment corpus-wide, DROP segments carried by more than
    * `maxDocFreq` documents (boilerplate headers/footers/cookie banners),
    * and re-join the survivors in order. Returns
    * (idCol, n_segments, n_dropped, clean_text).
    *
    * Scale shape: the frequency table is built from (id, hash) pairs only —
    * document text enters exactly ONE shuffle (hash-join of segments with
    * their global frequency is keyed by the 16-byte md5; per-key fan-out is
    * carrying-documents, the quantity being counted), and the ordered
    * reassembly is a map-side-combinable struct collect re-sorted per
    * document, not a window. Documents never meet each other except through
    * the md5 key.
    */
  def segmentClean(
      df: DataFrame,
      idCol: String,
      textCol: String,
      segWords: Int = 8,
      maxDocFreq: Long = 1L): DataFrame = {
    // (id, idx, segment text) — same slicing as segmentHashes, text retained
    val segs = df
      .select(
        col(idCol),
        posexplode(
          graft.functions.Let.bind(
            split(col(textCol), " "),
            w =>
              transform(
                TextStats.safeSeq(ceil(size(w).cast("double") / segWords).cast("int")),
                i => concat_ws(" ", slice(w, (i - 1) * segWords + 1, lit(segWords)))
              )
          )
        ).as(Seq("_idx", "_seg")))
      .withColumn("_h", md5(col("_seg")))
    val freq = segs
      .groupBy(col("_h"))
      .agg(count_distinct(col(idCol)).as("_nd"))
    segs
      .join(freq, "_h")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("_nd") > maxDocFreq, 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(
              collect_list(
                when(col("_nd") <= maxDocFreq, struct(col("_idx"), col("_seg"))))),
            s => s.getField("_seg")),
          " ").as("clean_text"))
  }

  /** Normalized word tokens. */
  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "[^\\p{L}\\p{N}]+"), t => length(t) > 0)

  /** Word-level shingles (n-grams of tokens, joined by a space). The token
    * array is let-bound (graft.functions.Let) so the slice lambda references
    * a variable — without it the whole tokenization re-runs per shingle.
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.Let.bind(
      tokens(text),
      toks =>
        array_distinct(
          transform(
            TextStats.safeSeq(size(toks) - (n - 1)),
            i => concat_ws(" ", slice(toks, i, lit(n)))
          )
        )
    )

  /** MinHash signature over already-hashed shingles, computed in ONE pass by
    * the native expression (graft.functions.MinhashSignatureExpr — a
    * primitive-array loop, whole-stage-codegen'd).
    *
    * The i-th hash function is `h1 + i*h2` (two independent 64-bit hashes
    * combined — the standard 2-universal construction). Masks keep
    * `h1 + i*h2` inside the Long range (62-bit + 5-bit·57-bit < 2^63).
    */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column = {
    require(numHashes <= 32, s"numHashes must be <= 32, got $numHashes")
    graft.functions.MinhashSignatureExpr.minhash_signature(shingleCol, numHashes)
  }

  /** Reference implementation of [[minhashSignature]] from composable
    * built-ins (single `aggregate`, fused multiply-add/min per shingle) —
    * interpreted HOF evaluation; used by TextExpressionsSpec to pin the
    * native expression's semantics bit-for-bit.
    */
  private[graft] def minhashSignatureComposable(shingleCol: Column, numHashes: Int): Column = {
    require(numHashes <= 32, s"numHashes must be <= 32, got $numHashes")
    aggregate(
      transform(
        shingleCol,
        v => struct(
          v.bitwiseAND(lit((1L << 62) - 1)).as("h1"),
          xxhash64(v, lit(0x9e3779b97f4a7c15L)).bitwiseAND(lit((1L << 57) - 1)).as("h2"))),
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, s) =>
        zip_with(
          acc,
          sequence(lit(0L), lit((numHashes - 1).toLong)),
          (m, i) => least(m, s.getField("h1") + i * s.getField("h2"))
        )
    )
  }

  /** Candidate (idA, idB) pairs from bucketed rows, with a bucket-size bound:
    *  - buckets with ≤ `cap` rows contribute all intra-bucket pairs (the usual
    *    LSH candidate set);
    *  - hotter buckets contribute STAR pairs only — every row linked to the
    *    bucket's minimum id — O(size) instead of O(size²).
    * A single boilerplate-heavy bucket can no longer go quadratic (the
    * round-2 q36 instability), while single-link dedup recall is preserved:
    * 10k identical docs still all link to one winner through the star.
    * The window count shuffles on the bucket keys — the same partitioning the
    * candidate self-join needs, so the exchange is reused, not added.
    */
  private[llm] def bucketCandidates(
      banded: DataFrame,
      bucketKeys: Seq[String],
      idCol: String,
      cap: Int
  ): DataFrame = {
    val w = Window.partitionBy(bucketKeys.map(col): _*)
    val counted = banded
      .withColumn("_bn", count(lit(1)).over(w))
      .withColumn("_bmin", min(col(idCol)).over(w))
    val small = counted.filter(col("_bn") <= cap)
    val a = small.select(bucketKeys.map(col) :+ col(idCol).as("idA"): _*)
    val b = small.select(bucketKeys.map(col) :+ col(idCol).as("idB"): _*)
    val smallPairs = a.join(b, bucketKeys).filter(col("idA") < col("idB")).select("idA", "idB")
    val hotPairs = counted
      .filter(col("_bn") > cap && col(idCol) =!= col("_bmin"))
      .select(col("_bmin").as("idA"), col(idCol).as("idB"))
    smallPairs.unionByName(hotPairs).distinct()
  }

  /** Word shingles hashed to longs immediately: every downstream band join
    * and Jaccard verification then shuffles 8-byte hashes instead of shingle
    * strings (~10× smaller payload at scale; 64-bit collisions are
    * negligible for set-overlap estimation).
    */
  private[llm] def hashedShingles(text: Column, shingleLen: Int): Column =
    array_distinct(transform(shingles(text, shingleLen), s => xxhash64(s)))

  /** Per-band bucket keys of a minhash signature: hash of each band's slice,
    * seeded by the band index. Shared by the self-join path and the
    * incremental index (both sides MUST derive keys identically).
    */
  private[llm] def bandKeys(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(slice(sigCol, b * rowsPerBand + 1, rowsPerBand), lit(b))
    }: _*)

  /** Candidate near-duplicate pairs via MinHash-LSH banding + exact Jaccard
    * verification. Returns (idA, idB, jaccard) with idA < idB.
    *
    * bands × rowsPerBand = signature length; a pair lands in the same bucket
    * for one band with probability ≈ 1-(1-j^r)^b.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.8,
      maxBucketSize: Int = 256
  ): DataFrame = {
    minhashPairsFromHashedShingles(
      df.select(col(idCol).as("_id"), hashedShingles(col(textCol), shingleLen).as("_sh")),
      "_id", "_sh", bands, rowsPerBand, threshold, maxBucketSize)
  }

  /** Banded MinHash-LSH candidate generation + exact Jaccard verification over
    * PRE-HASHED shingle sets — the shared engine behind `minhashPairs` (word
    * shingles) and `SimilarityJoinTransform` (character shingles, cross-view).
    * Input: (idCol, shCol: array<long>). Returns (idA, idB, jaccard), idA<idB.
    */
  def minhashPairsFromHashedShingles(
      df: DataFrame,
      idCol: String,
      shCol: String,
      bands: Int,
      rowsPerBand: Int,
      threshold: Double,
      maxBucketSize: Int
  ): DataFrame = {
    val numHashes = bands * rowsPerBand
    // The repartition is load-bearing: without an exchange, Catalyst collapses
    // the projections and the band-explode below would inline (and recompute)
    // the whole shingle+minhash expression once per band per hash — measured
    // ~60× slowdown. The shuffle materializes (_id, _sh, _sig) exactly once;
    // at cluster scale this exchange also spreads the corpus before the
    // bucket join.
    val withSig = df
      .select(col(idCol).as("_id"), col(shCol).as("_sh"))
      .filter(size(col("_sh")) > 0)
      .withColumn("_sig", minhashSignature(col("_sh"), numHashes))
      .repartition(col("_id"))
    // explode into (band index, band hash) bucket keys — ids only, the
    // shingle arrays stay out of the band join entirely
    val banded = withSig.select(
      col("_id"),
      posexplode(bandKeys(col("_sig"), bands, rowsPerBand)).as(Seq("_band", "_bucket"))
    )
    // bucket self-join on (band, bucket): candidates only, 16 bytes per row,
    // bucket sizes capped (hot buckets degrade to star links — see
    // bucketCandidates). Pairs are deduped BEFORE fetching arrays — a pair
    // colliding in k bands would otherwise pay the Jaccard k times, and the
    // array payload would ride every shuffle.
    val candidatePairs = bucketCandidates(banded, Seq("_band", "_bucket"), "_id", maxBucketSize)
    val shingleSets = withSig.select(col("_id"), col("_sh"))
    candidatePairs
      .join(shingleSets.select(col("_id").as("idA"), col("_sh").as("_shA")), Seq("idA"))
      .join(shingleSets.select(col("_id").as("idB"), col("_sh").as("_shB")), Seq("idB"))
      .select(col("idA"), col("idB"), jaccard(col("_shA"), col("_shB")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact Jaccard similarity of two string arrays (as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** Drop near-duplicates found by MinHash-LSH, keeping the smallest id of
    * each candidate pair (single-link, one LSH pass — the standard
    * first-order approximation; full transitive closure would iterate).
    */
  def minhashDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.8,
      maxBucketSize: Int = 256
  ): DataFrame = {
    val losers = minhashPairs(df, idCol, textCol, shingleLen, bands, rowsPerBand, threshold, maxBucketSize)
      .select(col("idB").as(idCol))
      .distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Single-link SimHash dedup: drop the higher id of every pair within
    * `maxDistance` Hamming bits — same keep-lowest semantics as
    * [[minhashDedup]], over [[simhashPairs]]' capped banded candidates.
    */
  def simhashDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 3,
      maxBucketSize: Int = 256
  ): DataFrame = {
    val losers = simhashPairs(df, idCol, textCol, maxDistance, maxBucketSize)
      .select(col("idB").as(idCol))
      .distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Connected components over near-duplicate pairs. Returns (id,
    * component) with component = the minimum id in the cluster — the full
    * transitive closure, where the single-link pass in `minhashDedup` only
    * removes direct partners. Every id that appears in a pair gets one row;
    * a null id is never joined to anything and reads back as (null, null).
    *
    * Two paths give the same labels (DedupSpec compares them):
    *  - driver, for integral ids: the projected pairs are pinned once and
    *    at most `DriverEdgeLimit + 1` (100 001) of them are collected from
    *    the pin in one single-task job. When at most 100 000 come back,
    *    union-find on the driver labels every node in one pass and the
    *    result is a local relation. The driver then holds the collected
    *    pairs, one map entry per distinct id (at most 200 000) and the
    *    result rows: about 20 MB at the bound by Spark's SizeEstimator
    *    (100 000 Long pairs), plus the local relation's copy of the rows.
    *    The bound is set by that heap, not by time: on 4 cores the driver
    *    path was 3-7x faster than the rounds on star graphs and 28-40x on
    *    random ones at 10 000, 100 000 and 300 000 pairs
    *    (plans/r21/cc_paths.txt). A dedup probe of a handful of rows pays
    *    two jobs instead of two propagation rounds of ~15 jobs each.
    *  - distributed, for larger graphs (from the same pin) and for every
    *    other id type: iterative min-label propagation WITH pointer-jumping.
    *    Neighbor propagation alone moves a label one hop per round (a
    *    chain of length L would need L rounds — a silent-wrong hazard under
    *    any iteration cap); the jump step additionally replaces each node's
    *    label with its label's label, giving O(log diameter) convergence
    *    (~6 rounds for a 60-node chain). Each round is a bounded number of
    *    joins/aggregations; `Lineage.pin` cuts the lineage so the plan
    *    doesn't grow with iterations (essential at 100 TB). Throws if
    *    `maxIterations` is hit before convergence rather than returning a
    *    partially-merged labeling.
    */
  def connectedComponents(
      pairs: DataFrame,
      idACol: String = "idA",
      idBCol: String = "idB",
      maxIterations: Int = 25
  ): DataFrame =
    connectedComponents(pairs, idACol, idBCol, maxIterations, DriverEdgeLimit)

  /** Pairs up to which [[connectedComponents]] labels on the driver. */
  private val DriverEdgeLimit = 100000

  /** [[connectedComponents]] with the driver-path bound as an argument:
    * `driverEdgeLimit = 0` forces the distributed path (specs only). */
  private[graft] def connectedComponents(
      pairs: DataFrame,
      idACol: String,
      idBCol: String,
      maxIterations: Int,
      driverEdgeLimit: Int
  ): DataFrame = {
    // both columns cast to the type the undirected edge union would widen
    // them to, so both paths see the same values
    val idType = pairs.select(col(idACol)).unionAll(pairs.select(col(idBCol))).schema.head.dataType
    val projected = pairs.select(
      col(idACol).cast(idType).as("src"), col(idBCol).cast(idType).as("dst"))
    idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        // pinned: the edge sample below and the distributed rounds read
        // the pairs' upstream plan once
        val pinned = graft.core.Lineage.pin(projected)
        graft.core.Local.collectUpTo(pinned.coalesce(1), driverEdgeLimit, graft.core.Local.MaxBytes)
          .map(componentsOnDriver(pinned.sparkSession, _, idType))
          .getOrElse(componentsDistributed(pinned, maxIterations))
      case _ => componentsDistributed(projected, maxIterations)
    }
  }

  /** Union-find labelling of collected (src, dst) pairs of integral ids;
    * the root of each set is its minimum id. */
  private def componentsOnDriver(spark: SparkSession, pairs: Array[Row],
      idType: DataType): DataFrame = {
    val parent = scala.collection.mutable.LinkedHashMap.empty[Any, Any]
    var sawNull = false
    def node(v: Any): Unit =
      if (v == null) sawNull = true else if (!parent.contains(v)) parent(v) = v
    def find(v: Any): Any = {
      var x = v
      while (parent(x) != x) {
        val up = parent(parent(x))
        parent(x) = up // path halving
        x = up
      }
      x
    }
    def key(v: Any): Long = v.asInstanceOf[Number].longValue
    pairs.foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      node(a)
      node(b)
      if (a != null && b != null) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (key(ra) < key(rb)) parent(rb) = ra else parent(ra) = rb }
      }
    }
    val rows = parent.keys.toVector.map(v => Row(v, find(v))) ++
      (if (sawNull) Seq(Row(null, null)) else Nil)
    graft.core.Local.relation(spark, StructType(Seq(
      StructField("id", idType), StructField("component", idType))), rows)
  }

  /** Min-label propagation with pointer jumping over (src, dst) pairs —
    * the distributed half of [[connectedComponents]]. */
  private def componentsDistributed(pairs: DataFrame, maxIterations: Int): DataFrame = {
    // undirected edge list, both directions. Lineage is cut every round
    // (Lineage.pin): executor-local checkpoint by default; when the session
    // has a reliable checkpoint dir configured the pin automatically
    // upgrades to a fault-tolerant checkpoint, so a long CC job on a real
    // cluster survives executor loss mid-iteration.
    val edges = graft.core.Lineage.pin(pairs
      .unionAll(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var labels = graft.core.Lineage.pin(edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      // 1. every node offers its current label to each neighbor; keep the
      //    min of (own label, best offer)
      val offers = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("component")).as("_offer"))
      val propagated = labels
        .join(offers, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("_offer"), col("component"))).as("component"))
      // 2. pointer jump: follow the label one more level (component of my
      //    component) — halves the remaining chain depth every round
      val jumped = propagated.as("a")
        .join(
          propagated.select(col("id").as("_cid"), col("component").as("_ccomp")),
          col("a.component") === col("_cid"),
          "left")
        .select(col("a.id").as("id"),
          least(col("a.component"), coalesce(col("_ccomp"), col("a.component"))).as("component"))
      val next = graft.core.Lineage.pin(jumped)
      val changed = next
        .join(labels.withColumnRenamed("component", "_old"), Seq("id"))
        .filter(col("component") =!= col("_old"))
        .limit(1).count()
      converged = changed == 0
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIterations iterations — raise maxIterations")
    labels
  }

  /** Full transitive-closure dedup: MinHash-LSH pairs → connected components
    * → keep only each cluster's minimum id. A chain a~b~c collapses to {a}
    * even when (a,c) was never a candidate pair.
    */
  def minhashDedupClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.8,
      maxBucketSize: Int = 256
  ): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, shingleLen, bands, rowsPerBand, threshold, maxBucketSize)
    val losers = connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** 64-bit SimHash fingerprint per document: per-bit majority vote over
    * token hashes — a pure narrow map with ZERO shuffle (the earlier explode
    * + 64-column groupBy shuffled every token of the corpus; at 100 TB that
    * is ~20× the corpus moving through the exchange for a per-document
    * value). The vote runs in the native expression
    * (graft.functions.Simhash64Expr — one int[64] per row, codegen'd);
    * tokenization stays in composable built-ins.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.Simhash64Expr.simhash64(tokens(col(textCol))).as("simhash"))

  /** Reference implementation of the [[simhash]] fingerprint from composable
    * built-ins (aggregate majority vote) — interpreted HOF evaluation; used
    * by TextExpressionsSpec to pin the native expression bit-for-bit.
    */
  private[graft] def simhashComposable(text: Column): Column = {
    val masks = array((0 until 64).map(j => lit(1L << j)): _*)
    val votes = aggregate(
      transform(tokens(text), t => xxhash64(t)),
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, masks, (v, m) => v + when(h.bitwiseAND(m) =!= 0, 1).otherwise(-1))
    )
    aggregate(
      zip_with(votes, masks, (v, m) => when(v > 0, m).otherwise(lit(0L))),
      lit(0L),
      (a, x) => a.bitwiseOR(x)
    )
  }

  /** Near-duplicate pairs by SimHash Hamming distance ≤ maxDistance.
    * The banding is derived from maxDistance so recall is guaranteed for the
    * requested distance (the round-1 fixed 4×16-bit banding silently missed
    * distance-4..8 pairs when called with maxDistance=8).
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 3,
      maxBucketSize: Int = 256
  ): DataFrame =
    simhashPairsFromFingerprints(
      simhash(df, idCol, textCol), idCol, "simhash", maxDistance, maxBucketSize)

  /** Chunk-PAIR banding over precomputed fingerprints: split the 64-bit
    * fingerprint into `maxDistance + 2` chunks; distance ≤ d leaves at least
    * 2 chunks untouched (pigeonhole), so some chunk PAIR matches exactly —
    * band key = xxhash64(i, j, chunk_i, chunk_j). Compared to single-chunk
    * banding this doubles the key bit-width (buckets stay small as the corpus
    * grows) while keeping full recall; candidates are verified by exact
    * Hamming distance, hot buckets are capped (bucketCandidates).
    */
  def simhashPairsFromFingerprints(
      fp: DataFrame,
      idCol: String,
      fpCol: String,
      maxDistance: Int,
      maxBucketSize: Int = 256
  ): DataFrame = {
    require(maxDistance >= 0 && maxDistance <= 30, s"maxDistance must be in [0,30], got $maxDistance")
    val chunks = maxDistance + 2
    val width = 64 / chunks
    def chunkVal(i: Int): Column = {
      val w = if (i == chunks - 1) 64 - width * (chunks - 1) else width
      shiftrightunsigned(col(fpCol), i * width).bitwiseAND(lit((1L << w) - 1))
    }
    val pairsIdx = for { i <- 0 until chunks; j <- (i + 1) until chunks } yield (i, j)
    val banded = fp.select(
      col(idCol).as("_id"),
      col(fpCol).as("_fp"),
      posexplode(
        array(pairsIdx.map { case (i, j) =>
          xxhash64(lit(i), lit(j), chunkVal(i), chunkVal(j))
        }: _*)
      ).as(Seq("_band", "_key"))
    )
    // The 8-byte fingerprint rides THROUGH the band join (unlike minhash,
    // whose shingle arrays must stay out and join back): verification needs
    // no extra shuffle at all.
    val keys = Seq("_band", "_key")
    val w = Window.partitionBy(keys.map(col): _*)
    val counted = banded
      .withColumn("_bn", count(lit(1)).over(w))
      .withColumn("_bmin", min(col("_id")).over(w))
      .withColumn("_bminFp", min_by(col("_fp"), col("_id")).over(w))
    val small = counted.filter(col("_bn") <= maxBucketSize)
    val a = small.select(keys.map(col) :+ col("_id").as("idA") :+ col("_fp").as("_fpA"): _*)
    val b = small.select(keys.map(col) :+ col("_id").as("idB") :+ col("_fp").as("_fpB"): _*)
    val smallPairs = a.join(b, keys).filter(col("idA") < col("idB"))
      .select("idA", "idB", "_fpA", "_fpB")
    val hotPairs = counted
      .filter(col("_bn") > maxBucketSize && col("_id") =!= col("_bmin"))
      .select(col("_bmin").as("idA"), col("_id").as("idB"),
        col("_bminFp").as("_fpA"), col("_fp").as("_fpB"))
    smallPairs.unionByName(hotPairs).distinct()
      .select(col("idA"), col("idB"), bit_count(col("_fpA").bitwiseXOR(col("_fpB"))).as("hamming"))
      .filter(col("hamming") <= maxDistance)
  }

  /** Embedding near-duplicate pairs: random-hyperplane LSH buckets (sign bits
    * of dot products with `planes` fixed seeded hyperplanes) then exact cosine
    * within buckets. No cross join: one shuffle on the bucket signature;
    * hot buckets are capped (star links — bucketCandidates), and the vector
    * payloads stay OUT of the candidate shuffle (ids only, vectors joined back
    * just for the surviving pairs).
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      planes: Int = 8,
      threshold: Double = 0.95,
      seed: Long = 42L,
      maxBucketSize: Int = 256
  ): DataFrame = {
    val sig = Similarity.hyperplaneSignature(col(vecCol), dim, planes, seed)
    val banded = df.select(sig.as("_sig"), col(idCol).as("_id"))
    val candidates = bucketCandidates(banded, Seq("_sig"), "_id", maxBucketSize)
    val vecs = df.select(col(idCol).as("_id"), col(vecCol).as("_v"))
    candidates
      .join(vecs.select(col("_id").as("idA"), col("_v").as("_vA")), Seq("idA"))
      .join(vecs.select(col("_id").as("idB"), col("_v").as("_vB")), Seq("idB"))
      .select(col("idA"), col("idB"), Similarity.cosine(col("_vA"), col("_vB")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Per-row cluster assignment + within-cluster near-duplicate pairs — the
    * SemDeDup recipe (Abbas et al. 2023): a sampled-trained KMeans coarse
    * quantizer partitions the embedding space into `nclusters` semantic
    * cells, and only SAME-CLUSTER pairs are scored, so the candidate join
    * is bounded by cluster size instead of going corpus-quadratic. Where
    * [[embeddingNearDupPairs]] buckets by random hyperplanes (oblivious,
    * recall tuned by plane count), the learned clusters adapt to the data's
    * density — the same centroid machinery as [[Similarity.ivfTopK]], used
    * for dedup instead of retrieval.
    *
    * Scale shape: assignment is a narrow map (broadcast centroid data, the
    * attachCentroidData pattern); candidates come from [[bucketCandidates]]
    * with its hot-bucket star cap, so one dense cluster degrades to a
    * star's linear pair count, never n². Vectors join candidates on id —
    * the embedding column shuffles only for candidate rows.
    *
    * Returns (idA, idB, cluster, cosine) for same-cluster pairs with
    * cosine ≥ tau, idA < idB. ([[semDedupPairs]] is the entry point;
    * this helper holds the shared (id, vec, cluster) assignment.)
    */
  private[llm] def semAssigned(df: DataFrame, idCol: String, vecCol: String,
      nclusters: Int, seed: Long, samplePerCluster: Int): DataFrame = {
    val cents = Similarity.trainCoarseCentroids(
      df, idCol, vecCol, nclusters, seed, samplePerCluster, salt = "semdedup-train")
    assignToCentroids(df, idCol, vecCol, cents)
  }

  /** (id, vec, cluster) assignment against FIXED centroids — the shared
    * kernel of [[semAssigned]] and [[SemIndex]]'s incremental path (a new
    * batch must be assigned with the PERSISTED quantizer, never a
    * retrained one, or batch and index rows would land in different
    * clusters and near-dups would never meet). */
  private[llm] def assignToCentroids(df: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Double, Int, Seq[Float])], inline: Boolean = false): DataFrame = {
    Similarity.attachCentroidData(df, cents, inline)
      .select(col(idCol).as("_id"), col(vecCol).as("_v"),
        element_at(Similarity.rankedCentroidLists(col(vecCol), col("_cents")), 1)
          .getField("list").as("_cluster"))
  }

  /** The (id, cluster) assignment [[semDedupPairs]] pairs within —
    * deterministic for a given corpus/seed, so callers can recompute it to
    * inspect or verify cluster structure. */
  def semClusters(df: DataFrame, idCol: String, vecCol: String,
      nclusters: Int = 16, seed: Long = 42L, samplePerCluster: Int = 256): DataFrame =
    semAssigned(df, idCol, vecCol, nclusters, seed, samplePerCluster)
      .select(col("_id").as(idCol), col("_cluster").as("cluster"))

  def semDedupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nclusters: Int = 16,
      tau: Double = 0.95,
      seed: Long = 42L,
      maxClusterSize: Int = 1024,
      samplePerCluster: Int = 256
  ): DataFrame =
    pairsFromAssigned(
      semAssigned(df, idCol, vecCol, nclusters, seed, samplePerCluster), tau, maxClusterSize)

  /** [[pairsFromAssigned]]'s (idA, idB) over assigned rows already on the
    * driver — (`_id`, `_v`, `_cluster`) of `schema`, a request-sized
    * batch. The candidates are [[bucketCandidates]]' (all pairs of a
    * cluster of ≤ `cap` rows, else star links from its minimum id), each
    * joined with every row of its two ids, and scored by the same cosine
    * expression, evaluated pair by pair (no candidate row is built) with
    * Spark's `>=` (NaN compares above every value). */
  private[llm] def pairsOnDriver(spark: SparkSession, assigned: Seq[Row], schema: StructType,
      tau: Double, cap: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    val (idType, vecType) = (schema("_id").dataType, schema("_v").dataType)
    val cosine = graft.functions.CosineSimilarity(
      BoundReference(0, vecType, nullable = true), BoundReference(1, vecType, nullable = true))
    val toArray = CatalystTypeConverters.createToCatalystConverter(vecType)
    def less(a: Any, b: Any): Boolean = a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    val vecsOf = assigned.filter(_.get(0) != null).groupBy(_.get(0))
      .map { case (id, rows) => id -> rows.map(r => toArray(r.get(1))) }
    val candidates = assigned.filter(_.get(2) != null).groupBy(_.get(2)).values.flatMap { rows =>
      val ids = rows.map(_.get(0)).filter(_ != null)
      if (rows.size <= cap) for (a <- ids; b <- ids if less(a, b)) yield (a, b)
      else if (ids.isEmpty) Nil
      else {
        val lo = ids.reduce((a, b) => if (less(b, a)) b else a)
        ids.filter(_ != lo).map(lo -> _)
      }
    }.toSeq.distinct
    val pair = new GenericInternalRow(2)
    def score(a: Any, b: Any): Any = { pair.update(0, a); pair.update(1, b); cosine.eval(pair) }
    val kept = candidates.flatMap { case (a, b) =>
      for (va <- vecsOf(a); vb <- vecsOf(b)
           if (score(va, vb) match {
             case c: java.lang.Double => c.isNaN || c >= tau
             case _ => false
           })) yield Row(a, b)
    }
    graft.core.Local.relation(spark,
      StructType(Seq(StructField("idA", idType), StructField("idB", idType))), kept)
  }

  private[llm] def pairsFromAssigned(assigned: DataFrame, tau: Double,
      maxClusterSize: Int): DataFrame = {
    val candidates = bucketCandidates(
      assigned.select(col("_cluster"), col("_id")), Seq("_cluster"), "_id", maxClusterSize)
    val vecs = assigned.select(col("_id"), col("_v"), col("_cluster"))
    candidates
      .join(vecs.select(col("_id").as("idA"), col("_v").as("_vA"),
        col("_cluster").as("cluster")), Seq("idA"))
      .join(vecs.select(col("_id").as("idB"), col("_v").as("_vB")), Seq("idB"))
      .select(col("idA"), col("idB"), col("cluster"),
        Similarity.cosine(col("_vA"), col("_vB")).as("cosine"))
      .filter(col("cosine") >= tau)
  }

  /** Per-row SemDeDup verdict from ONE quantizer training: (id, cluster,
    * kept). The cluster column is the assignment the dedup actually paired
    * within — callers verifying or auditing the dedup (e.g. q156's in-band
    * invariant) need the two to come from the same centroids, which two
    * separate [[semClusters]]/[[semDedup]] calls wouldn't guarantee if the
    * corpus changes between them.
    */
  def semDedupReport(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nclusters: Int = 16,
      tau: Double = 0.95,
      seed: Long = 42L,
      maxClusterSize: Int = 1024,
      samplePerCluster: Int = 256
  ): DataFrame = {
    val assigned = semAssigned(df, idCol, vecCol, nclusters, seed, samplePerCluster)
    val pairs = pairsFromAssigned(assigned, tau, maxClusterSize)
    val losers = connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("_lid"), lit(true).as("_lost"))
    assigned.select(col("_id").as(idCol), col("_cluster").as("cluster"))
      .join(losers, col(idCol) === col("_lid"), "left")
      .select(col(idCol), col("cluster"), coalesce(!col("_lost"), lit(true)).as("kept"))
  }

  /** Transitive SemDeDup: within-cluster near-dup pairs → connected
    * components → keep each component's minimum id (a chain a~b~c collapses
    * to {a} even when (a,c) was never scored). Rows in no pair keep
    * themselves. Same keep-lowest contract as [[minhashDedupClusters]].
    */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nclusters: Int = 16,
      tau: Double = 0.95,
      seed: Long = 42L,
      maxClusterSize: Int = 1024,
      samplePerCluster: Int = 256
  ): DataFrame = {
    val pairs = semDedupPairs(df, idCol, vecCol, nclusters, tau, seed,
      maxClusterSize, samplePerCluster)
    val losers = connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }
}
