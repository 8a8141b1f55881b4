package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.transform.SQLTransform
import QueryDef.{adaptive, fixed}
import Fixtures.{q147IndexDir, q155Codebooks}

/** Deduplication and similarity: exact, fuzzy and span dedup,
  * vector search (brute force, IVF, PQ) and near-duplicate graphs. */
private[queries] object DedupQueries {
  val all: Seq[QueryDef] = Seq(
    // Edit-distance near-dup: levenshtein within length-bucket blocks (the
    // classic blocked-pairs shape — the equi-join on the bucket key keeps the
    // candidate set linear-ish; never an unblocked cross join). The length
    // difference lower-bounds edit distance, so |lenA−lenB| ≤ maxDist is a
    // free pre-filter that spares the O(len²) levenshtein on hopeless pairs —
    // provably result-preserving.
    // The inner select computes levenshtein ONCE (the filter above references
    // the alias, so the expensive O(len²) kernel runs a single time per
    // surviving candidate — spelling it in both SELECT and WHERE would
    // evaluate it twice per pair).
    fixed("q130_editdist_neardup", "documents").sharedSql("""
    SELECT idA, idB, dist FROM (
      SELECT a.doc_id AS idA, b.doc_id AS idB,
             CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
      FROM documents a JOIN documents b
        ON CAST(FLOOR(a.n_chars / 20) AS BIGINT) = CAST(FLOOR(b.n_chars / 20) AS BIGINT)
       AND a.doc_id < b.doc_id
      WHERE a.doc_id < 200 AND b.doc_id < 200
        AND abs(a.n_chars - b.n_chars) <= 25) c
    WHERE dist <= 25
    ORDER BY idA, idB"""),
    adaptive("q31_dedup_exact", "documents") { (spark, ctx, _) =>
      graft.llm.Dedup
        .exact(ctx.view("documents"), Seq("lang", "source"), "doc_id")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }.oracle(
      """SELECT doc_id, lang, source FROM (
          SELECT doc_id, lang, source,
                 ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
          FROM documents) t
        WHERE rn = 1
        ORDER BY doc_id"""),
    adaptive("q32_dedup_fingerprint", "documents") { (spark, ctx, _) =>
      // md5 of normalized text is the cross-engine-checkable stand-in for the
      // xxhash64 fast path used at scale (TextStats.fingerprint).
      ctx.view("documents")
        .withColumn("fp", md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
        .groupBy("fp").agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")
    }.oracle(
      """SELECT fp, keep_id, n_copies FROM (
          SELECT MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fp,
                 CAST(MIN(doc_id) AS BIGINT) AS keep_id,
                 CAST(COUNT(*) AS BIGINT) AS n_copies
          FROM documents GROUP BY 1) t
        ORDER BY keep_id"""),
    fixed("q35_similarity_bruteforce", "embeddings") { (spark, ctx, _) =>
      val em = ctx.view("embeddings")
      graft.llm.Similarity
        .bruteForceTopK(em, "vec_id", "embedding", em.filter(col("vec_id") < 5), "vec_id", "embedding", 5)
        .select(
          col("query_id"),
          col("rank").cast("long").as("rank"),
          col("neighbor_id"),
          round(col("score"), 6).as("score")
        )
        .orderBy("query_id", "rank")
    }.oracle(
      """SELECT query_id, rank, neighbor_id, score FROM (
          SELECT q.vec_id AS query_id,
                 c.vec_id AS neighbor_id,
                 ROUND(LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS score,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS BIGINT) AS rank
          FROM embeddings c, embeddings q
          WHERE q.vec_id < 5) t
        WHERE rank <= 5
        ORDER BY query_id, rank"""),
    adaptive("q36_dedup_minhash", "documents") { (spark, ctx, _) =>
      // Self-verifying (no SQL oracle for LSH): every doc is emitted with a
      // kept flag; a REMOVED doc carries its removal evidence — the partner
      // id and the EXACT Jaccard the engine verified internally — and `ok`
      // asserts the evidence meets the threshold. A pair surviving on a hash
      // collision alone would surface as ok=false in the driver's capture.
      val docs = ctx.view("documents")
      val pairs = graft.llm.Dedup
        .minhashPairs(docs, "doc_id", "text", shingleLen = 3, threshold = 0.8)
      val removed = pairs.groupBy(col("idB").as("doc_id"))
        .agg(min(col("idA")).as("partner"), max(col("jaccard")).as("jaccard"))
      docs.select(col("doc_id"))
        .join(removed, Seq("doc_id"), "left")
        .select(
          col("doc_id"), col("partner"),
          round(col("jaccard"), 4).as("jaccard"),
          col("partner").isNull.as("kept"),
          (col("partner").isNull ||
            (col("jaccard") >= 0.8 && col("partner") < col("doc_id"))).as("ok"))
        .orderBy("doc_id")
    }.selfChecked,
    adaptive("q37_dedup_simhash", "documents") { (spark, ctx, _) =>
      // Self-verifying: the reported Hamming distance is recomputed
      // INDEPENDENTLY from per-doc fingerprints joined back by id — this
      // cross-checks the banded/star-link candidate path (a bug attaching
      // the wrong fingerprint to an id would make ok=false) — and `ok` also
      // asserts the distance contract and pair normalization.
      val docs = ctx.view("documents")
      val pairs = graft.llm.Dedup
        .simhashPairs(docs, "doc_id", "text", maxDistance = 8)
      val fps = graft.llm.Dedup.simhash(docs, "doc_id", "text")
        .select(col("doc_id"), col("simhash"))
      pairs
        .join(fps.select(col("doc_id").as("idA"), col("simhash").as("_fa")), Seq("idA"))
        .join(fps.select(col("doc_id").as("idB"), col("simhash").as("_fb")), Seq("idB"))
        .select(
          col("idA"), col("idB"), col("hamming"),
          (col("hamming") === bit_count(col("_fa").bitwiseXOR(col("_fb"))) &&
            col("hamming") <= 8 && col("idA") < col("idB")).as("ok"))
        .orderBy("idA", "idB")
    }.selfChecked,
    fixed("q46_similarity_join_lsh", "documents") { (spark, ctx, _) =>
      // MinHashLSH fuzzy self-join (SimilarityJoinTransform) — approximate,
      // so covered rows-only + ScalaTest, no SQL oracle.
      SQLTransform("head", "SELECT doc_id, text FROM documents WHERE doc_id < 100", "docs_a").execute(ctx)
      SQLTransform("head2", "SELECT doc_id, text FROM documents WHERE doc_id < 100", "docs_b").execute(ctx)
      graft.transform.SimilarityJoinTransform(
        "sim", "docs_a", "docs_b", Seq("text"), Seq("text"), "sim_out",
        threshold = 0.5, shingleLength = 3, numHashTables = 5
      ).execute(ctx)
      // Self-verifying two ways: the similarity is recomputed INDEPENDENTLY
      // from the source texts (same 3-char-shingle Jaccard recipe) and must
      // equal the transform's reported value — this cross-checks the
      // synthetic-id alignment inside the transform (scores attached to the
      // wrong rows would mismatch) — and the threshold contract is pinned.
      val shing = (c: org.apache.spark.sql.Column) => graft.functions.Let.bind(lower(c), s =>
        array_distinct(transform(
          graft.llm.TextStats.safeSeq(length(s) - 2),
          i => xxhash64(s.substr(i, lit(3))))))
      val docsAB = ctx.view("documents").filter(col("doc_id") < 100)
      ctx.view("sim_out")
        .filter(col("doc_id") =!= col("doc_id_right"))
        .join(docsAB.select(col("doc_id"), shing(col("text")).as("_sa")), Seq("doc_id"))
        .join(docsAB.select(col("doc_id").as("doc_id_right"), shing(col("text")).as("_sb")),
          Seq("doc_id_right"))
        .select(col("doc_id"), col("doc_id_right"), round(col("similarity"), 4).as("similarity"),
          (col("similarity") >= 0.5 &&
            abs(col("similarity") - graft.llm.Dedup.jaccard(col("_sa"), col("_sb"))) < 1e-9)
            .as("ok"))
        .orderBy("doc_id", "doc_id_right")
    }.selfChecked,
    fixed("q62_similarity_ivf", "embeddings") { (spark, ctx, _) =>
      // IVF ANN (KMeans coarse quantizer) — engine-specific clustering, so
      // rows-only + ScalaTest recall evidence (LlmSpec "ivfTopK").
      // Self-verifying: every ANN hit carries its BRUTE-FORCE rank (exact
      // cosine over the full corpus) — approximation quality is visible per
      // row — and `ok` asserts the reported score IS the true cosine of
      // that (query, neighbor) pair (bit-level scoring correctness; only
      // the candidate set is approximate in IVF).
      val em = ctx.view("embeddings")
      val queries = em.filter(col("vec_id") < 5)
      val ann = graft.llm.Similarity
        .ivfTopK(em, "vec_id", "embedding", queries, "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 2)
      val exact = graft.llm.Similarity
        .bruteForceTopK(em, "vec_id", "embedding", queries, "vec_id", "embedding",
          k = Int.MaxValue)
        .select(col("query_id"), col("neighbor_id"),
          col("score").as("_bf_score"), col("rank").cast("long").as("bf_rank"))
      ann
        .join(exact, Seq("query_id", "neighbor_id"))
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"),
          round(col("score"), 6).as("score"), col("bf_rank"),
          (abs(col("score") - col("_bf_score")) < 1e-12).as("ok"))
        .orderBy("query_id", "rank")
    }.selfChecked,
    fixed("q147_ivf_index", "embeddings") { (spark, ctx, dir) =>
      // Persistent IVF index (llm/IvfIndex): training + corpus assignment
      // paid once at write, retrieval reads ONLY the probed inverted-list
      // parquet partitions (partition pruning as the inverted-file
      // structure). KMeans is engine-specific → rows-only. Self-verifying
      // like q62: with nprobe = nlist the probe is exhaustive, so `ok`
      // asserts the indexed result IS the brute-force result — same
      // neighbor at the same rank with the same score.
      val em = ctx.view("embeddings")
      val queries = em.filter(col("vec_id") < 5)
      val idxDir = q147IndexDir(em, dir)
      val ann = graft.llm.IvfIndex.topK(queries, "vec_id", "embedding", idxDir, k = 5, nprobe = 8)
      val exact = graft.llm.Similarity
        .bruteForceTopK(em, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          col("score").as("_bf_score"), col("rank").cast("long").as("bf_rank"))
      ann
        .join(exact, Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"),
          round(col("score"), 6).as("score"),
          // coalesce: a neighbor ABSENT from the brute-force top-k (left
          // join miss) is a parity violation and must read false, not NULL
          coalesce(
            col("bf_rank") === col("rank") && abs(col("score") - col("_bf_score")) < 1e-12,
            lit(false)).as("ok"))
        .orderBy("query_id", "rank")
    }.selfChecked,
    fixed("q148_ivf_quantized", "embeddings") { (spark, ctx, dir) =>
      // IVF-SQ8 retrieval (IvfIndex.topKQuantized): int8-integer-dot
      // shortlist over the stored codes column, exact float rescore of the
      // shortlist only — the standard IVF-flat→IVF-quantized step. KMeans
      // is engine-specific → rows-only. Self-verifying like q147: with
      // nprobe = nlist AND a shortlist covering every candidate, the
      // rescored result must equal brute force bit-for-bit — `ok` asserts
      // same neighbor, same rank, same score.
      val em = ctx.view("embeddings")
      val queries = em.filter(col("vec_id") < 5)
      val idxDir = q147IndexDir(em, dir)
      val ann = graft.llm.IvfIndex.topKQuantized(queries, "vec_id", "embedding", idxDir,
        k = 5, nprobe = 8, shortlistFactor = 400)
      val exact = graft.llm.Similarity
        .bruteForceTopK(em, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          col("score").as("_bf_score"), col("rank").cast("long").as("bf_rank"))
      ann
        .join(exact, Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"),
          round(col("score"), 6).as("score"),
          coalesce(
            col("bf_rank") === col("rank") && abs(col("score") - col("_bf_score")) < 1e-12,
            lit(false)).as("ok"))
        .orderBy("query_id", "rank")
    }.selfChecked,
    fixed("q158_ivf_pq", "embeddings") { (spark, ctx, dir) =>
      // IVF-PQ retrieval (IvfIndex.topKPq): ADC-lookup shortlist over the
      // stored m-entry pq codes (the narrowest column in the layout), exact
      // float rescore of the shortlist only — the faiss `IVFx,PQm` tier
      // past q148's SQ8. KMeans is engine-specific → rows-only.
      // Self-verifying like q148: with nprobe = nlist AND a covering
      // shortlist the rescored result must equal brute force bit-for-bit.
      val em = ctx.view("embeddings")
      val queries = em.filter(col("vec_id") < 5)
      val idxDir = q147IndexDir(em, dir)
      val ann = graft.llm.IvfIndex.topKPq(queries, "vec_id", "embedding", idxDir,
        k = 5, nprobe = 8, shortlistFactor = 400)
      val exact = graft.llm.Similarity
        .bruteForceTopK(em, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          col("score").as("_bf_score"), col("rank").cast("long").as("bf_rank"))
      ann
        .join(exact, Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"),
          round(col("score"), 6).as("score"),
          coalesce(
            col("bf_rank") === col("rank") && abs(col("score") - col("_bf_score")) < 1e-12,
            lit(false)).as("ok"))
        .orderBy("query_id", "rank")
    }.selfChecked,
    adaptive("q159_url_dedup", "documents") { (spark, ctx, _) =>
      // URL-keyed crawl dedup (llm/UrlNorm): canonicalize messy URL
      // spellings (scheme/www/host-case/tracking-params/param-order/
      // index.html/fragment/trailing-slash variants) and keep the
      // first-crawled row per canonical URL. The URL column is derived
      // deterministically from (source, doc_id) with every variant class
      // injected, so canonical groups genuinely collide across spelling
      // variants; the DuckDB oracle reproduces the canonicalization
      // byte-for-byte (Java-regex ∩ RE2 patterns only).
      import graft.llm.UrlNorm
      val docs = ctx.view("documents")
      val messy = docs.select(
        col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("http://")),
          when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, upper(col("source"))).otherwise(col("source")),
          lit(".Example.COM/articles/"), (col("doc_id") % 100).cast("string"),
          when(col("doc_id") % 4 === 0, lit("/index.html"))
            .when(col("doc_id") % 4 === 1, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit("?utm_source=feed&utm_campaign=x"))
            .when(col("doc_id") % 7 === 1, lit("?ref=rss&page=2"))
            .when(col("doc_id") % 7 === 2, lit("?page=2&gclid=abc123"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit("#section-2")).otherwise(lit(""))
        ).as("url"))
      UrlNorm.dedupByUrl(messy, "url", "doc_id")
        .select(col("doc_id"), col("canonical_url"), col("n_dups"))
        .orderBy("doc_id")
    }.oracle(
      // byte-for-byte mirror of UrlNorm.canonicalizeUrl: scheme strip,
      // host lowering + www strip, fragment drop, tracking-param filter +
      // param sort, index.html + trailing-slash strip. Every regexp is
      // anchored/single-match so DuckDB's first-match regexp_replace and
      // Spark's replace-all agree.
      """WITH u AS (
          SELECT doc_id,
                 (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
                 || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
                 || (CASE WHEN doc_id % 5 = 0 THEN UPPER(source) ELSE source END)
                 || '.Example.COM/articles/' || CAST(doc_id % 100 AS VARCHAR)
                 || (CASE WHEN doc_id % 4 = 0 THEN '/index.html'
                          WHEN doc_id % 4 = 1 THEN '/' ELSE '' END)
                 || (CASE WHEN doc_id % 7 = 0 THEN '?utm_source=feed&utm_campaign=x'
                          WHEN doc_id % 7 = 1 THEN '?ref=rss&page=2'
                          WHEN doc_id % 7 = 2 THEN '?page=2&gclid=abc123' ELSE '' END)
                 || (CASE WHEN doc_id % 11 = 0 THEN '#section-2' ELSE '' END) AS url
          FROM documents),
        s AS (SELECT doc_id, regexp_replace(url, '^https?://', '') AS ns FROM u),
        parts AS (
          SELECT doc_id,
                 regexp_replace(lower(regexp_extract(ns, '^[^/?#]*')), '^www\.', '') AS host,
                 regexp_replace(ns, '^[^/?#]*', '') AS rest
          FROM s),
        pq AS (
          SELECT doc_id, host,
                 regexp_replace(regexp_replace(regexp_extract(rest, '^[^?#]*'),
                   '/index\.html$', ''), '/$', '') AS path,
                 list_sort(list_filter(string_split(regexp_extract(rest, '\?([^#]*)', 1), '&'),
                   p -> p <> '' AND NOT regexp_matches(p, '^(utm_[a-z]+|gclid|fbclid|ref)='))) AS params
          FROM parts),
        c AS (
          SELECT doc_id,
                 host || path || (CASE WHEN len(params) > 0
                   THEN '?' || array_to_string(params, '&') ELSE '' END) AS canonical_url
          FROM pq)
        SELECT MIN(doc_id) AS doc_id, canonical_url, COUNT(*) AS n_dups
        FROM c GROUP BY canonical_url ORDER BY doc_id"""),
    adaptive("q161_cdc_chunks", "documents") { (spark, ctx, _) =>
      // Content-defined chunking (functions/CdcChunksExpr via
      // Chunking.chunkByContent): gear-hash boundaries, so edits shift only
      // the chunk they land in. Boundary placement is engine-specific (the
      // gear table) → rows-only; self-verifying like q59: `ok` carries the
      // whole CDC contract in-band per chunk — exact reassembly (chunks
      // concatenate back to the document, checked at doc granularity and
      // folded into each chunk row), the maxLen cap, and the minLen floor
      // for every non-final chunk.
      import graft.llm.Chunking
      val docs = ctx.view("documents").select(col("doc_id"), col("text"))
      val chunks = Chunking.chunkByContent(docs, "text",
        minLen = 8, maskBits = 4, maxLen = 64)
      val rebuilt = chunks
        .groupBy("doc_id")
        .agg(concat_ws("",
          transform(array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
            c => c.getField("chunk_text"))).as("_rebuilt"))
      chunks
        .join(docs, Seq("doc_id"))
        .join(rebuilt, Seq("doc_id"))
        .select(col("doc_id"), col("chunk_id"), col("n_chunks"),
          col("chunk_chars"), col("chunk_hash"),
          (col("_rebuilt") === col("text") &&
            col("chunk_chars") <= 64 &&
            (col("chunk_chars") >= 8 || col("chunk_id") === col("n_chunks") - 1)).as("ok"))
        .orderBy("doc_id", "chunk_id")
    }.selfChecked,
    adaptive("q163_cdc_dedup", "documents") { (spark, ctx, _) =>
      // Edit-robust chunk dedup (Dedup.cdcDupStats): corpus = documents +
      // a lightly-edited copy of every 5th long document (10 chars inserted
      // at position 25). Gear table is engine-specific → rows-only, but the
      // edit-robustness CLAIM is verified in-band per copy: `ok` asserts
      // the copy still shares at least 40% of its CDC chunks with the
      // corpus, while the fixed-width 8-word segments of the SAME copy
      // (whose windows all shifted past the inserted word) share strictly
      // less — the measurable reason CDC exists.
      import graft.llm.Dedup
      val docs = ctx.view("documents").select(col("doc_id"), col("text"))
      val copies = docs
        .filter(col("doc_id") % 5 === 0 && length(col("text")) >= 120)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(substring(col("text"), 1, 25), lit(" EDIT-MARK"),
            expr("substring(text, 26)")).as("text"))
      val corpus = docs.unionByName(copies)
      val cdc = Dedup.cdcDupStats(corpus, "doc_id", "text",
        minLen = 8, maskBits = 4, maxLen = 64)
      val seg = Dedup.segmentDupStats(corpus, "doc_id", "text", segWords = 8)
        .select(col("doc_id"),
          (col("n_shared_segments").cast("double") /
            col("n_segments").cast("double")).as("_seg_frac"))
      copies.select(col("doc_id"))
        .join(cdc, Seq("doc_id"), "left")
        .join(seg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"), col("n_shared_chunks"),
          round(coalesce(col("_seg_frac"), lit(0.0)), 6).as("seg_frac"),
          coalesce(
            col("n_shared_chunks").cast("double") >=
              lit(0.4) * col("n_chunks").cast("double") &&
            coalesce(col("_seg_frac"), lit(0.0)) <
              col("n_shared_chunks").cast("double") / col("n_chunks").cast("double"),
            lit(false)).as("ok"))
        .orderBy("doc_id")
    }.selfChecked,
    adaptive("q166_line_dedup", "documents") { (spark, ctx, _) =>
      // Within-document repeated-line removal (LineFilter.dedupLines):
      // every doc is turned multiline (every 4th space → newline) with its
      // own first line re-appended — a guaranteed within-doc duplicate —
      // then lines dedupe to first occurrences. The oracle reproduces the
      // exact first-occurrence semantics via a min-ordinality formulation,
      // pinning clean_text byte-for-byte.
      import graft.llm.LineFilter
      val ml = ctx.view("documents").select(col("doc_id"),
        regexp_replace(col("text"), "(\\S+ \\S+ \\S+ \\S+) ", "$1\n").as("_ml"))
      val withDup = ml.select(col("doc_id"),
        concat(col("_ml"), lit("\n"), regexp_extract(col("_ml"), "^[^\n]*", 0)).as("text"))
      LineFilter.lineDedupStats(withDup, "doc_id", "text")
        .orderBy("doc_id")
    }.oracle(
      // explicit first-occurrence formulation: zip-unnested (line, ord),
      // keep min-ordinality per (doc, line), re-join in ordinal order —
      // must equal Spark's array_distinct order byte-for-byte
      """WITH m AS (
          SELECT doc_id,
                 regexp_replace(text, '(\S+ \S+ \S+ \S+) ', '\1' || chr(10), 'g') AS ml
          FROM documents),
        m2 AS (SELECT doc_id,
                 ml || chr(10) || regexp_extract(ml, '^[^' || chr(10) || ']*') AS t
               FROM m),
        m3 AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM m2),
        ex AS (SELECT doc_id, len(ls) AS n_lines, unnest(ls) AS line,
                      unnest(range(1, len(ls) + 1)) AS ord
               FROM m3),
        firsts AS (
          SELECT doc_id, n_lines, line, ord FROM ex
          QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY ord) = 1)
        SELECT doc_id, MIN(n_lines) AS n_lines,
               CAST(COUNT(*) AS BIGINT) AS n_unique_lines,
               string_agg(line, chr(10) ORDER BY ord) AS clean_text
        FROM firsts GROUP BY doc_id ORDER BY doc_id"""),
    fixed("q168_hard_negatives", "embeddings") { (spark, ctx, dir) =>
      // ANN hard-negative mining (Similarity.hardNegatives): per query the
      // top-cosine corpus vectors with a DIFFERENT label (the positive
      // class excluded). Exact brute-force scoring -> fully
      // oracle-expressible via LIST_COSINE_SIMILARITY, scores rounded to 6
      // like q35.
      val em = ctx.view("embeddings")
      graft.llm.Similarity.hardNegatives(
        em.filter(col("vec_id") < 8), "vec_id", "embedding", Seq("vec_id", "label"),
        em, "vec_id", "embedding", Seq("vec_id", "label"),
        k = 5, exclude = col("q_label") === col("neg_label"))
        .select(col("q_vec_id"), col("q_label"), col("neg_vec_id"), col("neg_label"),
          round(col("score"), 6).as("score"), col("neg_rank"))
        .orderBy("q_vec_id", "neg_rank")
    }.oracle(
      // the q35 cosine-parity pattern + the label exclusion; rank ties on
      // the STRING form of the neighbor id (the op ranks by _ck string)
      """SELECT q_vec_id, q_label, neg_vec_id, neg_label, score, neg_rank FROM (
          SELECT q.vec_id AS q_vec_id, q.label AS q_label,
                 c.vec_id AS neg_vec_id, c.label AS neg_label,
                 ROUND(LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])), 6) AS score,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]),
                     CAST(c.embedding AS DOUBLE[])) DESC,
                     CAST(c.vec_id AS VARCHAR)) AS BIGINT) AS neg_rank
          FROM embeddings c, embeddings q
          WHERE q.vec_id < 8 AND c.label <> q.label) t
        WHERE neg_rank <= 5
        ORDER BY q_vec_id, neg_rank"""),
    adaptive("q180_span_dedup", "documents") { (spark, ctx, _) =>
      // Exact cross-document repeated-substring removal (llm/SpanDedup —
      // the public suffix-array dedup method in window-hash form): every
      // third document is salted with one shared boilerplate paragraph;
      // every >= 8-token run shared across >= 2 docs is excised from all
      // but the min-id doc (plus any ORGANIC shared runs the synthetic
      // corpus happens to contain — the oracle computes the identical
      // set). All md5/integer arithmetic -> clean_text, token and span
      // counts reproduce byte-for-byte in DuckDB.
      import graft.llm.SpanDedup
      val para = "subscribe to our newsletter for updates terms of service apply"
      val docs = ctx.view("documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(lit(para), lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
      SpanDedup.dedupSpans(docs, "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }.oracle(
      // the identical window-hash formulation: md5 over 8-token windows of
      // the whitespace-normalized token array, >=2 distinct docs -> dup,
      // min-doc keeper, covered positions union, gaps-and-islands span
      // count, kept tokens re-joined in order
      """WITH base AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                      THEN 'subscribe to our newsletter for updates terms of service apply' || ' ' || text
                      ELSE text END AS text
          FROM documents),
        d AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'), t -> len(t) > 0) AS arr
          FROM base),
        g AS (
          SELECT doc_id, pos, md5(array_to_string(arr[pos+1:pos+8], ' ')) AS h
          FROM (SELECT doc_id, arr, unnest(range(0, len(arr) - 7)) AS pos
                FROM d WHERE len(arr) >= 8)),
        dup AS (
          SELECT h, min(doc_id) AS keeper FROM g
          GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        rem AS (
          SELECT DISTINCT g.doc_id, g.pos + u.off AS p
          FROM g JOIN dup USING (h)
          CROSS JOIN (SELECT unnest(range(0, 8)) AS off) u
          WHERE g.doc_id <> dup.keeper),
        remflag AS (
          SELECT doc_id, p,
                 CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) = p - 1
                      THEN 0 ELSE 1 END AS s
          FROM rem),
        remagg AS (
          SELECT doc_id, count(*) AS n_removed, sum(s) AS n_spans
          FROM remflag GROUP BY doc_id),
        toks AS (
          SELECT doc_id, unnest(arr) AS tok, unnest(range(0, len(arr))) AS pos FROM d),
        keptagg AS (
          SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.pos) AS clean_text
          FROM toks t LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.pos = r.p
          WHERE r.doc_id IS NULL GROUP BY t.doc_id)
        SELECT d.doc_id,
               CAST(len(d.arr) AS BIGINT) AS n_tokens,
               CAST(coalesce(ra.n_removed, 0) AS BIGINT) AS n_tokens_removed,
               CAST(coalesce(ra.n_spans, 0) AS BIGINT) AS n_spans,
               coalesce(ka.clean_text, '') AS clean_text
        FROM d
        LEFT JOIN remagg ra USING (doc_id)
        LEFT JOIN keptagg ka USING (doc_id)
        ORDER BY doc_id"""),
    adaptive("q182_span_dedup_withindoc", "documents") { (spark, ctx, _) =>
      // Within-document repeated-run removal (SpanDedup.dedupSpansWithinDoc
      // — the same-doc half of the suffix-array method): every fourth
      // document gets its own first 10 tokens re-appended — a guaranteed
      // within-doc duplicate run — which must be excised again (first
      // occurrence kept), along with any ORGANIC within-doc repeats of the
      // word-salad corpus. md5/integer-exact -> byte-for-byte oracle.
      import graft.llm.SpanDedup
      val toks = filter(split(trim(col("text")), "\\s+"), t => length(t) > 0)
      val docs = ctx.view("documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit(" "), concat_ws(" ", slice(toks, 1, 10))))
          .otherwise(col("text")).as("text"))
      SpanDedup.dedupSpansWithinDoc(docs, "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }.oracle(
      // same window-hash scaffolding as q180, but duplicated = >=2
      // occurrences within ONE doc; first occurrence (min pos) kept. The
      // salted tail is built in token space (list_concat of the first 10
      // tokens) — identical to Spark's concat-then-renormalize
      """WITH d0 AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'), t -> len(t) > 0) AS arr0
          FROM documents),
        d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 4 = 0 THEN list_concat(arr0, arr0[1:10])
                      ELSE arr0 END AS arr
          FROM d0),
        g AS (
          SELECT doc_id, pos, md5(array_to_string(arr[pos+1:pos+8], ' ')) AS h
          FROM (SELECT doc_id, arr, unnest(range(0, len(arr) - 7)) AS pos
                FROM d WHERE len(arr) >= 8)),
        firsts AS (
          SELECT doc_id, h, min(pos) AS fst, count(*) AS c
          FROM g GROUP BY doc_id, h),
        mk AS (
          SELECT g.doc_id, g.pos FROM g JOIN firsts USING (doc_id, h)
          WHERE c >= 2 AND g.pos <> fst),
        rem AS (
          SELECT DISTINCT doc_id, pos + u.off AS p
          FROM mk CROSS JOIN (SELECT unnest(range(0, 8)) AS off) u),
        remflag AS (
          SELECT doc_id, p,
                 CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) = p - 1
                      THEN 0 ELSE 1 END AS s
          FROM rem),
        remagg AS (
          SELECT doc_id, count(*) AS n_removed, sum(s) AS n_spans
          FROM remflag GROUP BY doc_id),
        toks AS (
          SELECT doc_id, unnest(arr) AS tok, unnest(range(0, len(arr))) AS pos FROM d),
        keptagg AS (
          SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.pos) AS clean_text
          FROM toks t LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.pos = r.p
          WHERE r.doc_id IS NULL GROUP BY t.doc_id)
        SELECT d.doc_id,
               CAST(len(d.arr) AS BIGINT) AS n_tokens,
               CAST(coalesce(ra.n_removed, 0) AS BIGINT) AS n_tokens_removed,
               CAST(coalesce(ra.n_spans, 0) AS BIGINT) AS n_spans,
               coalesce(ka.clean_text, '') AS clean_text
        FROM d
        LEFT JOIN remagg ra USING (doc_id)
        LEFT JOIN keptagg ka USING (doc_id)
        ORDER BY doc_id"""),
    fixed("q193_ann_recall_report", "embeddings") { (spark, ctx, dir) =>
      // ANN quality evaluation (llm/IvfIndex.recallProbe): the faiss-style
      // recall@k report every deployment runs before trusting an
      // approximate retrieval tier — sampled queries, probed search vs
      // exact brute force, swept over probe breadth and the three storage
      // tiers (flat / SQ8 codes / PQ codes) of the shared q147 index.
      // KMeans is engine-specific -> rows-only, but the report carries
      // EXACT in-band oracles: (1) recall bounds; (2) flat recall is
      // MONOTONE in nprobe — topk(C) ∩ topk(U) = C ∩ topk(U) for any
      // candidate set C under exact scoring with a total-order tie-break,
      // and the probed candidate set only grows with nprobe; (3)
      // approximation must VANISH when its knobs are opened: exhaustive
      // probe (flat) and exhaustive probe + covering shortlist (sq8/pq)
      // give recall EXACTLY 1.0, else the index layout or rerank is broken.
      import graft.llm.IvfIndex
      import graft.llm.IvfIndex.RecallSetting
      val em = ctx.view("embeddings")
      val queries = em.filter(col("vec_id") % 29 === 0)
      val idxDir = q147IndexDir(em, dir)
      // ONE sweep call: the exact ground truth is computed once and shared
      // (recallReport pins it), all hit counts land in one aggregate job
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("mode").orderBy("nprobe")
      IvfIndex.recallReport(queries, "vec_id", "embedding", idxDir, k = 5,
        Seq(RecallSetting("flat", 1), RecallSetting("flat", 8),
          RecallSetting("sq8", 8, shortlistFactor = 1000),
          RecallSetting("pq", 8, shortlistFactor = 1000)))
        .withColumn("_prev", lag(col("recall"), 1).over(w))
        .select(col("mode"), col("nprobe"), col("shortlist_factor"),
          col("n_exact"), col("n_hit"), col("recall"),
          (col("recall") >= 0.0 && col("recall") <= 1.0 &&
            (col("nprobe") =!= 8 || col("recall") === 1.0) &&
            coalesce(col("recall") >= col("_prev"), lit(true))).as("ok"))
        .orderBy("mode", "nprobe")
    }.selfChecked,
    adaptive("q154_dedup_best_copy", "documents") { (spark, ctx, _) =>
      // Quality-aware duplicate retention (Dedup.exactBest): the q92
      // duplicate class (formatting-perturbed copies, same normalized
      // form), but the SURVIVOR is the longest raw copy — the perturbed
      // one, 2 chars longer — not the smallest id. One shuffle on the
      // normalized key, WindowGroupLimit-bounded.
      val docs = ctx.view("documents").select(col("doc_id"), col("text"))
      val noisy = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          concat(upper(col("text")), lit("!!")).as("text"))
      graft.llm.Dedup.exactBest(
          docs.unionByName(noisy)
            .withColumn("_norm", graft.llm.TextStats.normalize(col("text"))),
          Seq("_norm"), quality = length(col("text")), tiebreaker = "doc_id")
        .select(col("doc_id"), length(col("text")).cast("long").as("quality"))
        .orderBy("doc_id")
    }.oracle(
      // same normalization as q92; survivor = argmax(length, min doc_id)
      """WITH all_docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 10000, upper(text) || '!!' FROM documents WHERE doc_id % 7 = 0),
        n AS (
          SELECT doc_id, text,
                 trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
          FROM all_docs),
        r AS (
          SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS quality,
                 ROW_NUMBER() OVER (PARTITION BY norm
                   ORDER BY LENGTH(text) DESC, doc_id) AS rn
          FROM n)
        SELECT doc_id, quality FROM r WHERE rn = 1 ORDER BY doc_id"""),
    fixed("q155_pq_topk", "embeddings") { (spark, ctx, dir) =>
      // Product-quantization retrieval (llm/Pq): per-subspace KMeans
      // codebooks, ADC (lookup-table) shortlist over the m-byte codes,
      // exact float rescore of the shortlist only. KMeans is
      // engine-specific → rows-only. Self-verifying like q148: with a
      // shortlist covering every candidate the rescored result must equal
      // brute force bit-for-bit — `ok` asserts same neighbor, same rank,
      // same score (only the candidate ORDER entering the shortlist is
      // approximate, never a returned score).
      val em = ctx.view("embeddings")
      val queries = em.filter(col("vec_id") < 5)
      // codebooks memoized per (JVM, sfDir) like q147's index build: the
      // bench min-of-2 measures encode+shortlist+rescore, not repeated
      // KMeans fits (the q147 honest-timing discipline)
      val cbs = q155Codebooks.computeIfAbsent(dir, _ =>
        graft.llm.Pq.trainCodebooks(em, "vec_id", "embedding", dim = 64, m = 8, ksub = 16))
      val ann = graft.llm.Pq.pqTopK(em, "vec_id", "embedding",
        queries, "vec_id", "embedding", dim = 64, k = 5, m = 8, ksub = 16,
        shortlistFactor = 400, codebooks = Some(cbs))
      val exact = graft.llm.Similarity
        .bruteForceTopK(em, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          col("score").as("_bf_score"), col("rank").cast("long").as("bf_rank"))
      ann
        .join(exact, Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"),
          round(col("score"), 6).as("score"),
          coalesce(
            col("bf_rank") === col("rank") && abs(col("score") - col("_bf_score")) < 1e-12,
            lit(false)).as("ok"))
        .orderBy("query_id", "rank")
    }.selfChecked,
    fixed("q156_semdedup", "embeddings") { (spark, ctx, _) =>
      // SemDeDup (Dedup.semDedup): learned-cluster-bounded embedding dedup —
      // only same-KMeans-cluster pairs are scored, transitive closure keeps
      // each component's minimum id. The synthetic embeddings are i.i.d.
      // (no natural near-dups, the q60 note), so exact copies of every 5th
      // vector are unioned in as known duplicates. KMeans is
      // engine-specific → rows-only. Self-verifying per row: a DROPPED
      // vector must have a same-cluster partner with cosine ≥ tau (no
      // false drops), and a KEPT vector must have no KEPT same-cluster
      // partner ≥ tau (the dedup is maximal at pair level; the in-band
      // check recomputes EXACT cosine over all same-cluster pairs).
      val tau = 0.999
      val em = ctx.view("embeddings").select(col("vec_id"), col("embedding"))
      val dups = em.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val all = em.unionAll(dups)
      // ONE training: the report's cluster column is the assignment the
      // dedup actually paired within, so the in-band check can't diverge
      val report = graft.llm.Dedup
        .semDedupReport(all, "vec_id", "embedding", nclusters = 8, tau = tau)
      val rows = all.join(report, Seq("vec_id"))
        .select(col("vec_id"), col("cluster"), col("embedding").as("_v"), col("kept"))
      // exact within-cluster pair scores, both directions (a, partner)
      val partners = rows.select(col("cluster"), col("vec_id"), col("_v"))
        .join(rows.select(col("cluster"), col("vec_id").as("_pid"),
          col("_v").as("_pv"), col("kept").as("_pkept")), Seq("cluster"))
        .filter(col("vec_id") =!= col("_pid"))
        .select(col("vec_id"),
          graft.llm.Similarity.cosine(col("_v"), col("_pv")).as("_cos"),
          col("_pkept"))
      val verdict = partners.groupBy("vec_id").agg(
        max(col("_cos")).as("_max_cos"),
        max(when(col("_pkept"), col("_cos")).otherwise(lit(-2.0))).as("_max_kept_cos"))
      rows.join(verdict, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"), col("kept"),
          when(col("kept"), coalesce(col("_max_kept_cos") < tau, lit(true)))
            .otherwise(coalesce(col("_max_cos") >= tau, lit(false))).as("ok"))
        .orderBy("vec_id")
    }.selfChecked,
    fixed("q59_fingerprints", "documents") { (spark, ctx, _) =>
      // xxhash64-based fingerprints have no DuckDB equivalent — rows-only,
      // but self-verifying: `ok` asserts the fingerprint is collision-free
      // on this corpus (all docs sharing an fp have the SAME normalized
      // text — a degenerate fingerprint would collide distinct texts) and
      // that winnowing yields fingerprints for any non-trivial text.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      ctx.view("documents")
        .select(
          col("doc_id"),
          graft.llm.TextStats.fingerprint(col("text")).as("fp"),
          size(graft.llm.TextStats.winnowingFingerprints(col("text"))).cast("long").as("n_winnow"),
          graft.llm.TextStats.normalize(col("text")).as("_norm"))
        .withColumn("ok",
          (size(collect_set(col("_norm")).over(w)) === 1) &&
            (col("n_winnow") >= 1 || length(col("_norm")) < 32))
        .select(col("doc_id"), col("fp"), col("n_winnow"), col("ok"))
        .orderBy("doc_id")
    }.selfChecked,
    adaptive("q60_embedding_neardup", "embeddings") { (spark, ctx, _) =>
      // Union with a shifted copy so true duplicate pairs exist (the synthetic
      // embeddings are i.i.d.; no natural near-dups). Rows-only.
      val em = ctx.view("embeddings").select(col("vec_id"), col("embedding"))
      val shifted = em.select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      graft.llm.Dedup
        .embeddingNearDupPairs(em.unionAll(shifted), "vec_id", "embedding",
          dim = 64, planes = 6, threshold = 0.99)
        .select(col("idA"), col("idB"), round(col("cosine"), 4).as("cosine"),
          // self-verifying: cosine is the EXACT similarity computed after
          // candidate generation — ok pins the threshold + normalization
          (col("cosine") >= 0.99 && col("idA") < col("idB")).as("ok"))
        .orderBy("idA", "idB")
    }.selfChecked,
    fixed("q65_dedup_cc", "documents") { (spark, ctx, _) =>
      // Connected components oracle-checked end-to-end: build pairs from
      // exact-fingerprint star links, run the iterative CC, emit each doc's
      // component. Equivalent (and DuckDB-checkable) as MIN(doc_id) OVER
      // (PARTITION BY fingerprint).
      val fp = ctx.view("documents")
        .withColumn("_fp", md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_fp"))
      val pairs = fp
        .withColumn("_m", min(col("doc_id")).over(w))
        .filter(col("doc_id") =!= col("_m"))
        .select(col("_m").as("idA"), col("doc_id").as("idB"))
      val labels = graft.llm.Dedup.connectedComponents(pairs)
      fp.select(col("doc_id"))
        .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
        .orderBy("doc_id")
    }.oracle(
      """SELECT doc_id,
               MIN(doc_id) OVER (
                 PARTITION BY MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g'))) AS component
        FROM documents
        ORDER BY doc_id"""),
    fixed("q85_ngram_jaccard", "documents") { (spark, ctx, _) =>
      // Exact token-bigram Jaccard via the scalable inverted-index shape:
      // explode grams → equi-join on the gram (one shuffle, no all-pairs
      // cross product) → per-pair intersection counts → union by inclusion-
      // exclusion. This is the ORACLE-CHECKED companion of q36: at corpus
      // scale the same pair generation runs through MinHash banding with
      // capped buckets (Dedup.minhashPairs); hot grams here are the same
      // skew hazard stop-gram filtering / capping addresses there. The
      // doc_id bound keeps the oracle comparison tractable; jaccard divides
      // BIGINT counts in DOUBLE (IEEE-identical across engines).
      //
      // DataFrame (not pipe/SQL) deliberately: the SQL form benched 13 s at
      // sf0.1 on 128 docs — InferFiltersFromGenerate + CollapseProject
      // inline the whole gram expression into lambdas, and interpreted HOFs
      // re-evaluate captured subtrees per ELEMENT (the round-3 cliff).
      // Let.bind makes the token array a lambda VARIABLE (once per row) and
      // the repartition is a collapse barrier before explode: ~0.5 s.
      val bigrams = graft.functions.Let.bind(
        filter(split(lower(col("text")), "[^a-z0-9]+"), x => x =!= lit("")),
        t =>
          array_distinct(transform(
            sequence(lit(1), size(t) - 1),
            i => concat(element_at(t, i), lit(" "), element_at(t, i + lit(1))))))
      val grams = ctx.view("documents").filter(col("doc_id") < 128)
        .select(col("doc_id"), bigrams.as("g"))
        .filter(size(col("g")) > 0)
        .repartition(col("doc_id"))
      val ex = grams.select(col("doc_id"), explode(col("g")).as("gram"))
      val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = ex.as("a")
        .join(ex.as("b"), col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("inter_cnt"))
      inter.join(sizes.as("sa"), col("sa.doc_id") === col("id_a"))
        .join(sizes.as("sb"), col("sb.doc_id") === col("id_b"))
        .select(col("id_a"), col("id_b"), col("inter_cnt"),
          (col("sa.n") + col("sb.n") - col("inter_cnt")).as("union_cnt"))
        .withColumn("jaccard", col("inter_cnt").cast("double") / col("union_cnt").cast("double"))
        .filter(col("jaccard") >= 0.08)
        .orderBy("id_a", "id_b")
    }.oracle(
      """WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
          FROM documents WHERE doc_id < 128
        ), grams AS (
          SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS g
          FROM toks WHERE len(t) >= 2
        ), ex AS (
          SELECT doc_id, unnest(g) AS gram FROM grams
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter_cnt
          FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), sizes AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS n FROM grams)
        SELECT inter.id_a, inter.id_b, inter.inter_cnt,
               sa.n + sb.n - inter.inter_cnt AS union_cnt,
               CAST(inter.inter_cnt AS DOUBLE) / CAST(sa.n + sb.n - inter.inter_cnt AS DOUBLE) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = inter.id_a JOIN sizes sb ON sb.doc_id = inter.id_b
        WHERE CAST(inter.inter_cnt AS DOUBLE) / CAST(sa.n + sb.n - inter.inter_cnt AS DOUBLE) >= 0.08
        ORDER BY id_a, id_b"""),
    adaptive("q92_normalized_dedup", "documents") { (spark, ctx, _) =>
      // Near-exact dedup via canonical normalization (TextStats.normalize):
      // the corpus is augmented with a deterministically perturbed copy of
      // every 7th doc (upper-cased + punctuation noise — the "same document,
      // different formatting" duplicate class); normalization collapses each
      // copy back onto its original. One hash-agg shuffle on the normalized
      // key, exactly the exact-dedup cost.
      val docs = ctx.view("documents").select("doc_id", "text")
      val noisy = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          concat(upper(col("text")), lit("!!")).as("text"))
      docs.unionByName(noisy)
        .groupBy(graft.llm.TextStats.normalize(col("text")).as("_norm"))
        .agg(min("doc_id").as("keeper_id"), count(lit(1)).cast("long").as("n_copies"))
        .select(col("keeper_id"), col("n_copies"),
          length(col("_norm")).cast("long").as("norm_len"))
        .orderBy("keeper_id")
    }.oracle(
      """WITH all_docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 10000, upper(text) || '!!' FROM documents WHERE doc_id % 7 = 0
        ), n AS (
          SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
          FROM all_docs
        )
        SELECT MIN(doc_id) AS keeper_id, CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(LENGTH(norm) AS BIGINT) AS norm_len
        FROM n GROUP BY norm
        ORDER BY keeper_id"""),
    fixed("q96_filtered_ann", "embeddings") { (spark, ctx, _) =>
      // Filtered retrieval: top-k cosine neighbors among corpus vectors
      // passing a metadata predicate — the filter composes BEFORE scoring
      // (Catalyst pushes it into the corpus scan), so the brute-force pass
      // reads and scores only the eligible partition of the corpus. Same
      // float-parity discipline as q35 (round 6dp, IEEE ops).
      val em = ctx.view("embeddings")
      graft.llm.Similarity
        .bruteForceTopK(
          em.filter(col("label").isin(0, 1, 2)), "vec_id", "embedding",
          em.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
        .select(
          col("query_id"),
          col("rank").cast("long").as("rank"),
          col("neighbor_id"),
          round(col("score"), 6).as("score"))
        .orderBy("query_id", "rank")
    }.oracle(
      """SELECT query_id, rank, neighbor_id, score FROM (
          SELECT q.vec_id AS query_id,
                 c.vec_id AS neighbor_id,
                 ROUND(LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS score,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS BIGINT) AS rank
          FROM embeddings c, embeddings q
          WHERE q.vec_id < 5 AND c.label IN (0, 1, 2)) t
        WHERE rank <= 3
        ORDER BY query_id, rank"""),
    adaptive("q99_segment_dedup", "documents") { (spark, ctx, _) =>
      // Paragraph/segment-level dedup stats (Dedup.segmentDupStats,
      // CCNet/C4-style): docs scored by how many of their 8-word segments
      // occur in other docs. Text never shuffles — only (doc_id, md5) pairs.
      graft.llm.Dedup
        .segmentDupStats(ctx.view("documents"), "doc_id", "text", segWords = 8)
        .orderBy("doc_id")
    }.oracle(
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         segs AS (
           SELECT doc_id, md5(array_to_string(w[((i-1)*8+1):(i*8)], ' ')) AS h
           FROM words, LATERAL (SELECT UNNEST(generate_series(1, CAST(CEIL(len(w)/8.0) AS BIGINT))) AS i) t
         ),
         freq AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM segs GROUP BY h)
         SELECT s.doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_segments,
                CAST(SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_segments
         FROM segs s JOIN freq f ON s.h = f.h
         GROUP BY s.doc_id
         HAVING SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) > 0
         ORDER BY doc_id"""),
    fixed("q114_source_overlap", "documents") { (spark, ctx, _) =>
      // Cross-source contamination matrix (Dedup.crossGroupOverlap): distinct
      // shared 8-word segments per source pair; fan-out bounded by the group
      // count per segment, never by document counts.
      graft.llm.Dedup
        .crossGroupOverlap(ctx.view("documents"), "source", "text", segWords = 8)
        .orderBy("source_a", "source_b")
    }.oracle(
      """WITH words AS (SELECT source, string_split(text, ' ') AS w FROM documents),
         segs AS (
           SELECT DISTINCT source, md5(array_to_string(w[((i-1)*8+1):(i*8)], ' ')) AS h
           FROM words, LATERAL (SELECT UNNEST(generate_series(1, CAST(CEIL(len(w)/8.0) AS BIGINT))) AS i) t),
         pairs AS (
           SELECT a.source AS source_a, b.source AS source_b
           FROM segs a JOIN segs b ON a.h = b.h AND a.source < b.source)
         SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS shared_segments
         FROM pairs GROUP BY source_a, source_b
         ORDER BY source_a, source_b"""),
    adaptive("q117_quantize_int8", "embeddings") { (spark, ctx, _) =>
      // Symmetric absmax int8 quantization (Quantize.quantStats): integer
      // code checksums + order-independent max reconstruction error. Narrow
      // projection, zero shuffles; every arithmetic step a single IEEE op →
      // bit-identical to the oracle.
      graft.llm.Quantize
        .quantStats(ctx.view("embeddings"), "vec_id", "embedding")
        .orderBy("vec_id")
    }.oracle(
      """WITH s AS (
          SELECT vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
          FROM embeddings),
        c AS (
          -- the CASE mirrors int8Codes' nanvl guard: NaN/Inf elements code
          -- to 0 on both engines instead of relying on cast semantics
          SELECT vec_id, embedding, scale,
                 list_transform(embedding,
                   x -> CAST(COALESCE(CASE WHEN isnan(floor(CAST(x AS DOUBLE) * 127 / nullif(scale, 0) + 0.5)) THEN 0
                                           ELSE floor(CAST(x AS DOUBLE) * 127 / nullif(scale, 0) + 0.5) END, 0) AS INT)) AS codes
          FROM s)
        SELECT vec_id,
               CAST(len(embedding) AS INT) AS n_dim,
               scale,
               CAST(list_sum(codes) AS BIGINT) AS code_sum,
               CAST(list_sum(list_transform(codes, x -> abs(x))) AS BIGINT) AS code_l1,
               list_max(list_transform(generate_series(1, len(embedding)),
                 i -> abs(CAST(embedding[i] AS DOUBLE) - CAST(codes[i] AS DOUBLE) * scale / 127))) AS max_abs_err
        FROM c
        ORDER BY vec_id"""),
    adaptive("q119_segment_clean", "documents") { (spark, ctx, _) =>
      // CCNet-style boilerplate-segment REMOVAL (Dedup.segmentClean): drop
      // 8-word segments shared by >1 documents, re-join survivors in order.
      // Text enters exactly one shuffle; frequency table is (hash, count).
      graft.llm.Dedup
        .segmentClean(ctx.view("documents"), "doc_id", "text", segWords = 8, maxDocFreq = 1L)
        .orderBy("doc_id")
    }.oracle(
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        segs AS (
          SELECT doc_id, i, array_to_string(w[((i-1)*8+1):(i*8)], ' ') AS seg
          FROM words, LATERAL (SELECT UNNEST(generate_series(1, CAST(CEIL(len(w)/8.0) AS BIGINT))) AS i) t
        ),
        freq AS (SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM segs GROUP BY seg)
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               COALESCE(string_agg(CASE WHEN f.nd <= 1 THEN s.seg END, ' ' ORDER BY s.i), '') AS clean_text
        FROM segs s JOIN freq f ON s.seg = f.seg
        GROUP BY s.doc_id
        ORDER BY doc_id"""),
    adaptive("q124_quantized_topk", "embeddings") { (spark, ctx, _) =>
      // Retrieval over QUANTIZED vectors: int8 codes, INTEGER dot-product
      // scoring (exact, order-independent — quantization makes ANN scoring
      // oracle-checkable, the float path q35 needs IEEE-parity care for).
      // Same broadcast shape as bruteForceTopK: queries broadcast, corpus
      // never shuffles.
      import org.apache.spark.sql.expressions.Window
      val emb = ctx.view("embeddings")
      val codes = emb.select(
        col("vec_id"),
        graft.llm.Quantize.int8Codes(col("embedding")).as("codes"))
      val q = codes.filter(col("vec_id") <= 2)
        .select(col("vec_id").as("query_id"), col("codes").as("q_codes"))
      val scored = codes
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(
          col("query_id"), col("vec_id"),
          aggregate(
            zip_with(col("codes"), col("q_codes"), (a, b) => a.cast("long") * b.cast("long")),
            lit(0L), (acc, x) => acc + x).as("dot_q"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("dot_q").desc, col("vec_id"))
      scored
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .orderBy("query_id", "rank")
    }.oracle(
      """WITH s AS (
          SELECT vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
          FROM embeddings),
        c AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(COALESCE(CASE WHEN isnan(floor(CAST(x AS DOUBLE) * 127 / nullif(scale, 0) + 0.5)) THEN 0
                                           ELSE floor(CAST(x AS DOUBLE) * 127 / nullif(scale, 0) + 0.5) END, 0) AS INT)) AS codes
          FROM s),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id,
                 CAST(list_sum(list_transform(generate_series(1, len(c.codes)),
                   i -> CAST(c.codes[i] AS BIGINT) * CAST(q.codes[i] AS BIGINT))) AS BIGINT) AS dot_q
          FROM c, c q
          WHERE q.vec_id <= 2 AND c.vec_id <> q.vec_id),
        ranked AS (
          SELECT query_id, vec_id, dot_q,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot_q DESC, vec_id) AS BIGINT) AS rank
          FROM scored)
        SELECT query_id, vec_id, dot_q, rank
        FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank"""),
  )
}
