package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>` / `array<double>`).
  *
  * Two paths:
  *  - `bruteForceTopK`: exact — broadcast the (small) query set, score every
  *    corpus row, per-query top-k via window. The dot product is
  *    `aggregate(zip_with(...))` — a single codegen'd expression, no UDF —
  *    so the scan streams at full speed; the corpus is never shuffled, only
  *    the per-query top-k rows move.
  *  - `lshTopK`: scale path — random-hyperplane signatures bucket the corpus;
  *    queries probe only their own bucket (plus optional multi-probe), cutting
  *    scored candidates by ~2^planes. Same seeded hyperplanes on both sides.
  */
object Similarity {

  /** Dot product of two numeric arrays — the native fused-loop expression
    * (graft.functions.DotProduct, codegen'd, no intermediate array). The
    * composable `aggregate(zip_with(...))` form computes the same sum in the
    * same element order, so results are bit-identical; the native form skips
    * the per-row products-array allocation that dominates ANN scoring.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vec_dot(a, b)

  /** The built-ins-only dot (kept for cross-checking the native expression). */
  def dotComposable(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x
    )

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — the native fused expression (one traversal for dot
    * AND both norms; graft.functions.CosineSimilarity). Bit-identical to the
    * composable form below (same accumulation order).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vec_cosine(a, b)

  /** Built-ins-only cosine (kept for cross-checking the native expression). */
  def cosineComposable(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Deterministic pseudo-random unit-ish hyperplanes from a seed: plane p,
    * dimension i gets a value derived from xxhash64 — computed per-row as a
    * codegen'd expression so no driver-side materialization is needed.
    * Signature = the `planes` sign bits packed into a long.
    */
  def hyperplaneSignature(vec: Column, dim: Int, planes: Int, seed: Long): Column = {
    val bits = (0 until planes).map { p =>
      // dot(vec, plane_p) where plane_p[i] = hash(seed,p,i) mapped to [-1,1)
      val d = aggregate(
        zip_with(
          vec,
          sequence(lit(0), lit(dim - 1)),
          (x, i) =>
            x.cast("double") *
              (pmod(xxhash64(lit(seed), lit(p), i), lit(2000000L)).cast("double") / 1000000.0 - 1.0)
        ),
        lit(0.0),
        (acc, x) => acc + x
      )
      when(d >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` must be small enough to broadcast (typical ANN serving shape).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int
  ): DataFrame = {
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("_qv"))
    val scored = corpus
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("_cv"))
      .crossJoin(broadcast(q))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosine(col("_qv"), col("_cv")).as("score")
      )
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF ANN (inverted-file index, the FAISS-style scale path): a KMeans
    * coarse quantizer assigns every corpus vector to one of `nlist` inverted
    * lists; each query probes its `nprobe` nearest lists and reranks those
    * candidates exactly. Scored candidates shrink by ~nlist/nprobe versus
    * brute force, and unlike hyperplane LSH the cell count is chosen
    * explicitly (√n lists is the usual rule), so the index GROWS with the
    * corpus.
    *
    * Plan shape: list assignment is a narrow map on both sides — `array_sort`
    * over per-centroid distance structs, no window; the only shuffle in the
    * whole operator is the candidates hash-join on list id. How the centroid
    * table reaches the executors depends on nlist:
    *  - nlist ≤ broadcastThreshold: ONE literal array expression (half-norms
    *    precomputed on the driver) — zero joins, everything codegen'd.
    *  - nlist > broadcastThreshold: a literal of nlist×dim constants would
    *    blow up the plan/codegen constant pool (at the √n rule a real corpus
    *    wants nlist 10⁴–10⁵), so the centroids ship as a single-row DataFrame
    *    through a broadcast cross join instead — the array is DATA, not plan
    *    constants, and each side still sees exactly one extra (broadcast,
    *    non-shuffling) operator.
    */
  def ivfTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 2,
      seed: Long = 42L,
      broadcastThreshold: Int = 256
  ): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val train = corpus.select(array_to_vector(col(corpusVec).cast("array<double>")).as("features"))
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(10).fit(train)
    // (0.5·‖c‖², list id, vector) per centroid; argmin_c ‖x−c‖² =
    // argmin_c (0.5‖c‖² − x·c), structs sort by (d, list).
    val cents = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (0.5 * c.dot(c), i, c.toArray.map(_.toFloat).toSeq)
    }.toSeq
    // Attach the centroid array to every row of `df`, returning (df', centsCol).
    def attach(df: DataFrame): (DataFrame, Column) =
      if (nlist <= broadcastThreshold) {
        val centLit = array(cents.map { case (hn, i, v) =>
          struct(lit(hn).as("halfNorm"), lit(i).as("list"),
            array(v.map(lit(_)): _*).as("vec"))
        }: _*)
        (df, centLit)
      } else {
        (attachCentroidData(df, cents), col("_cents"))
      }
    def rankedLists(vec: Column, centsCol: Column): Column =
      rankedCentroidLists(vec, centsCol)
    val (cIn, cCents) = attach(corpus)
    val c = cIn.select(
      col(corpusId).as("neighbor_id"),
      col(corpusVec).as("_cv"),
      element_at(rankedLists(col(corpusVec), cCents), 1).getField("list").as("_list"))
    val (qIn, qCents) = attach(queries)
    val q = qIn.select(
      col(queryId).as("query_id"),
      col(queryVec).as("_qv"),
      explode(transform(slice(rankedLists(col(queryVec), qCents), 1, nprobe), s => s.getField("list")))
        .as("_list"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    c.join(q, Seq("_list"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("_qv"), col("_cv")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Train a KMeans coarse quantizer on a deterministic hash-sample of the
    * corpus and return (halfNorm, list, vec) centroid tuples — the ONE
    * sampled-training definition shared by [[IvfIndex.write]] and
    * [[Dedup.semDedup]]. KMeans makes ~maxIter passes over its training
    * input, so full-corpus training costs ~10 corpus scans; centroid
    * PLACEMENT only needs a few hundred vectors per centroid, so training
    * reads a [[Sampling.hashSample]] of ~`samplePer × k` vectors instead
    * (corpora at or below the target train on every vector, unchanged).
    * The sample sizing pays one `count()` pass — cheap against the ~10
    * scans it replaces.
    */
  private[llm] def trainCoarseCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, seed: Long, samplePer: Int, salt: String): Seq[(Double, Int, Seq[Float])] = {
    require(k > 0, s"k must be positive, got $k")
    require(samplePer > 0, s"samplePer must be positive, got $samplePer")
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val target = samplePer.toLong * k
    val n = corpus.count()
    val src =
      if (n > target) Sampling.hashSample(corpus, col(idCol), target.toDouble / n, salt = salt)
      else corpus
    val train = src.select(array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(10).fit(train)
    model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (0.5 * c.dot(c), i, c.toArray.map(_.toFloat).toSeq)
    }.toSeq
  }

  /** The centroids a persistent index ([[IvfIndex]], [[SemIndex]]) keeps
    * under `<path>/centroids`, as (halfNorm, list, vec) rows in list order.
    * Read with the schema both writers use, so no inference job runs. */
  private[llm] def readCentroids(spark: SparkSession,
      path: String): Seq[(Double, Int, Seq[Float])] =
    spark.read.schema("list INT, halfNorm DOUBLE, vec ARRAY<FLOAT>").parquet(s"$path/centroids")
      .collect().map(r => (r.getDouble(1), r.getInt(0), r.getSeq[Float](2))).toSeq
      .sortBy(_._2)

  /** Centroid structs as a broadcast single-row DataFrame cross-joined onto
    * `df` (the array is DATA, not plan constants — a large nlist as
    * literals would blow the codegen constant pool). `cents` rows are
    * (halfNorm, list, vec). Shared by [[ivfTopK]]'s large-nlist path and
    * the persistent [[IvfIndex]] so the assignment machinery has ONE
    * definition.
    *
    * `inline = true` attaches the same array as a literal instead — for a
    * request-sized [[graft.core.Local]] relation only: a join never folds
    * into a local relation, a projection does (`ConvertToLocalRelation`
    * evaluates it on the driver), and a folded plan never reaches codegen,
    * so the constant pool is not at stake there.
    */
  private[llm] def attachCentroidData(df: DataFrame,
      cents: Seq[(Double, Int, Seq[Float])], inline: Boolean = false): DataFrame =
    if (inline)
      df.withColumn("_cents", array(cents.map { case (hn, i, v) =>
        struct(lit(hn).as("halfNorm"), lit(i).as("list"), typedLit(v).as("vec"))
      }: _*))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      val centDf = Seq(Tuple1(cents)).toDF("_raw")
        .select(transform(col("_raw"), c =>
          struct(c.getField("_1").as("halfNorm"), c.getField("_2").as("list"),
            c.getField("_3").as("vec"))).as("_cents"))
      df.crossJoin(broadcast(centDf))
    }

  /** Per-row centroid ranking by L2 distance (argmin_c ‖x−c‖² via
    * 0.5‖c‖² − x·c), ties broken by list id through the struct sort — the
    * ONE definition of assignment order shared by [[ivfTopK]] and
    * [[IvfIndex]]; a tie-break or precision change here reaches both.
    */
  private[llm] def rankedCentroidLists(vec: Column, centsCol: Column): Column = array_sort(
    transform(centsCol, c =>
      struct(
        (c.getField("halfNorm") - dot(vec, c.getField("vec"))).as("d"),
        c.getField("list").as("list"))))

  /** LSH-bucketed ANN: corpus and queries hashed with the same hyperplanes;
    * candidates are same-bucket rows, reranked exactly. Recall is tuned by
    * `planes` (fewer planes → bigger buckets → higher recall, more work).
    *
    * `maxBucketSize` bounds the scored candidates per bucket: a hot corpus
    * bucket keeps a deterministic hash-ordered sample of `maxBucketSize` rows
    * (an IVF-style inverted-list cap), so one dense region can't turn the
    * probe join quadratic at scale. Recall within the capped bucket degrades
    * gracefully — raise the cap or the plane count for dense corpora.
    *
    * `multiProbe` additionally probes every Hamming-1 neighbor signature of
    * each query (each sign bit flipped once): a near neighbor that fell just
    * on the other side of ONE hyperplane is still found. Candidates grow
    * ~(planes+1)×-bounded on the query side only — the corpus is hashed and
    * shuffled exactly once either way.
    */
  def lshTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      dim: Int,
      k: Int,
      planes: Int = 6,
      seed: Long = 42L,
      maxBucketSize: Int = 4096,
      multiProbe: Boolean = false
  ): DataFrame = {
    val cw = Window.partitionBy(col("_sig"))
      .orderBy(xxhash64(col("neighbor_id").cast("string")), col("neighbor_id"))
    val c = corpus.select(
      col(corpusId).as("neighbor_id"),
      col(corpusVec).as("_cv"),
      hyperplaneSignature(col(corpusVec), dim, planes, seed).as("_sig")
    )
      .withColumn("_rn", row_number().over(cw))
      .filter(col("_rn") <= maxBucketSize)
      .drop("_rn")
    val qBase = queries.select(
      col(queryId).as("query_id"),
      col(queryVec).as("_qv"),
      hyperplaneSignature(col(queryVec), dim, planes, seed).as("_sig")
    )
    val q =
      if (!multiProbe) qBase
      else qBase
        .select(
          col("query_id"),
          col("_qv"),
          explode(array(
            col("_sig") +: (0 until planes).map(p => col("_sig").bitwiseXOR(lit(1L << p))): _*
          )).as("_sig"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    c.join(q, Seq("_sig"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("_qv"), col("_cv")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: for each query, the
    * `k` HIGHEST-cosine corpus rows that are NOT positives (`exclude`,
    * written over the prefixed `q_*` / `neg_*` columns — same-id,
    * same-label, same-source…). Hard negatives are what make contrastive
    * losses informative; the uniform counterpart is
    * [[Sampling.negativeSample]].
    *
    * Exact brute-force scoring (queries broadcast, corpus scanned once,
    * salted bounded top-k — never a per-query single-task sort); at
    * corpus scales where a full scan per batch is too much, shortlist
    * through [[IvfIndex.topK]] with k + headroom and apply the same
    * exclusion to the shortlist (approximate: a probed list may not
    * contain k true non-positives).
    *
    * Output: q_* cols, neg_* cols, `score`, `neg_rank` (1-based by
    * (score desc, neg-id-string)).
    */
  def hardNegatives(
      queries: DataFrame, queryId: String, queryVec: String, queryCols: Seq[String],
      corpus: DataFrame, corpusId: String, corpusVec: String, corpusCols: Seq[String],
      k: Int, exclude: Column = lit(false)): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val q = queries.select(
      col(queryId).cast("string").as("_qk") +: col(queryVec).as("_qv") +:
        queryCols.map(c => col(c).as(s"q_$c")): _*)
    val c = corpus.select(
      col(corpusId).cast("string").as("_ck") +: col(corpusVec).as("_cv") +:
        corpusCols.map(cc => col(cc).as(s"neg_$cc")): _*)
    val scored = c.crossJoin(broadcast(q))
      .filter(!exclude)
      .withColumn("score", cosine(col("_qv"), col("_cv")))
      .drop("_qv", "_cv")
    val top = graft.operators.TopK.perKeySalted(scored, Seq("_qk"), "score", k,
      descending = true, tiebreak = Seq("_ck"))
    val w = Window.partitionBy(col("_qk")).orderBy(col("score").desc, col("_ck"))
    top.withColumn("neg_rank", row_number().over(w).cast("long"))
      .drop("_qk", "_ck", "rank")
  }

  /** Hard negatives through a persistent [[IvfIndex]] — the corpus-scale
    * route [[hardNegatives]] documents: retrieve `k·headroom` neighbors per
    * query from the index (probed-partition reads, no corpus scan), apply
    * the exclusion, keep the best `k` survivors. APPROXIMATE on two counts,
    * both tunable: partial probes can miss neighbors (`nprobe`), and a
    * query whose top `k·headroom` retrieved rows contain more than
    * `k·(headroom−1)` positives keeps fewer than `k` negatives (raise
    * `headroom`). With `nprobe = nlist` and headroom covering the positive
    * density the result equals [[hardNegatives]] exactly — the test pins
    * that equivalence.
    */
  def hardNegativesIndexed(
      queries: DataFrame, queryId: String, queryVec: String, queryCols: Seq[String],
      indexPath: String, k: Int, exclude: Column = lit(false),
      headroom: Int = 4, nprobe: Int = 8,
      corpusMeta: Option[(DataFrame, String, Seq[String])] = None): DataFrame = {
    require(k > 0 && headroom > 0, s"k/headroom must be positive, got $k/$headroom")
    val hits = IvfIndex.topK(queries.select(
        (col(queryId).as("__qid") +: col(queryVec).as("__qv") +:
          queryCols.map(c => col(c).as(s"q_$c"))): _*),
      "__qid", "__qv", indexPath, k = k * headroom, nprobe = nprobe)
    // re-attach query metadata (topK keeps only query_id) and, when the
    // exclusion needs corpus-side columns, the corpus metadata by id
    // no broadcast hint: query metadata scales with the query batch — the
    // hits side is ≤ k·headroom per query, so the join stays bounded and
    // AQE broadcasts small batches at runtime
    val qMeta = queries.select(
      col(queryId).cast("string").as("_qmk") +: queryCols.map(c => col(c).as(s"q_$c")): _*)
    val withQ = hits.withColumn("_qmk", col("query_id").cast("string"))
      .join(qMeta, Seq("_qmk"))
    val withMeta = corpusMeta match {
      case Some((corpus, corpusId, corpusCols)) =>
        val cMeta = corpus.select(
          col(corpusId).cast("string").as("_cmk") +:
            corpusCols.map(c => col(c).as(s"neg_$c")): _*)
        withQ.withColumn("_cmk", col("neighbor_id").cast("string"))
          .join(cMeta, Seq("_cmk"))
      case None => withQ
    }
    val survivors = withMeta.filter(!exclude).drop("_qmk", "_cmk", "rank")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    // ≤ k·headroom rows per query reach this window — bounded by
    // construction, not by data
    survivors.withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= k)
  }
}
