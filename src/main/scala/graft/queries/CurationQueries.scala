package graft
package queries

import org.apache.spark.sql.functions._
import QueryDef.{adaptive, fixed}

/** Data curation: sampling, mixing, splits, decontamination,
  * classifiers and the multi-stage curation pipelines. */
private[queries] object CurationQueries {
  val all: Seq[QueryDef] = Seq(
    fixed("q164_canary_hits", "documents") { (spark, ctx, _) =>
      // Exact multi-canary search (Decontaminate.canaryHits over the native
      // Aho–Corasick expression): one pass per document regardless of
      // canary count. The oracle replicates each (doc, canary) hit with
      // per-canary contains() — exact substring semantics, so the match
      // sets must agree row-for-row.
      import graft.llm.Decontaminate
      val canaries = Seq("key agg row", "table value", "fast merge",
        "row scan", "hash value", "zebra quantum flux")
      Decontaminate.canaryHits(
        ctx.view("documents").select(col("doc_id"), col("text")),
        "doc_id", "text", canaries)
        .select(col("doc_id"), col("canary_id").cast("long").as("canary_id"),
          col("canary"))
        .orderBy("doc_id", "canary_id")
    }.oracle(
      // per-canary contains() join — exact verbatim-substring semantics
      """WITH canaries(canary_id, canary) AS (
          VALUES (CAST(0 AS BIGINT), 'key agg row'),
                 (CAST(1 AS BIGINT), 'table value'),
                 (CAST(2 AS BIGINT), 'fast merge'),
                 (CAST(3 AS BIGINT), 'row scan'),
                 (CAST(4 AS BIGINT), 'hash value'),
                 (CAST(5 AS BIGINT), 'zebra quantum flux'))
        SELECT d.doc_id, c.canary_id, c.canary
        FROM documents d JOIN canaries c ON contains(d.text, c.canary)
        ORDER BY d.doc_id, c.canary_id"""),
    fixed("q167_negative_sampling", "documents") { (spark, ctx, dir) =>
      // Deterministic contrastive negatives (Sampling.negativeSample):
      // per-query k-lowest salted md5 over a hash-sampled candidate pool,
      // excluding the positive (same doc) and same-source candidates. The
      // whole construction is md5-exact, so the oracle reproduces pool
      // membership, exclusion, ranking, and ties byte-for-byte. The pool
      // rate comes from the parquet FOOTER count (ParquetMeta.rowCount) —
      // zero extra Spark jobs, same exact n as the oracle's hard-coded
      // threshold derivation.
      import graft.llm.Sampling
      val docs = ctx.view("documents")
      val n = graft.extract.ParquetMeta.rowCount(spark, s"$dir/documents.parquet")
      Sampling.negativeSample(
        docs.filter(col("doc_id") < 25), col("doc_id"), Seq("doc_id", "source"),
        docs, col("doc_id"), Seq("doc_id", "source"),
        k = 4, poolSize = 60, salt = "ns",
        exclude = col("q_doc_id") === col("neg_doc_id") ||
          col("q_source") === col("neg_source"),
        corpusCount = Some(n))
        .orderBy("q_doc_id", "neg_rank")
    }.oracle(
      // pool threshold = %08x of round(60/500 · 0xffffffff) = 1eb851eb;
      // the hash, exclusion, and (h, cand-id-string) tiebreak mirror the
      // Spark op exactly
      """WITH pool AS (
          SELECT doc_id AS cand_id, source AS cand_source FROM documents
          WHERE substring(md5(CAST(doc_id AS VARCHAR) || 'ns-pool'), 1, 8) < '1eb851eb'),
        q AS (SELECT doc_id AS q_doc_id, source AS q_source FROM documents WHERE doc_id < 25),
        j AS (
          SELECT q_doc_id, q_source, cand_id, cand_source,
                 md5(CAST(q_doc_id AS VARCHAR) || ':' || CAST(cand_id AS VARCHAR) || 'ns') AS h
          FROM q CROSS JOIN pool
          WHERE NOT (q_doc_id = cand_id OR q_source = cand_source)),
        r AS (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_doc_id ORDER BY h, CAST(cand_id AS VARCHAR)) AS neg_rank
          FROM j)
        SELECT q_doc_id, q_source, cand_id AS neg_doc_id, cand_source AS neg_source,
               CAST(neg_rank AS BIGINT) AS neg_rank
        FROM r WHERE neg_rank <= 4 ORDER BY q_doc_id, neg_rank"""),
    adaptive("q176_curation_pipeline", "documents") { (spark, ctx, _) =>
      // END-TO-END curation pipeline as ONE oracle-checked query: messy
      // URL construction -> canonicalization + keep-first URL dedup
      // (UrlNorm) -> per-source MAD outlier screen on n_chars
      // (RobustStats, k=3, computed on the POST-dedup survivors) ->
      // deterministic 80/10/10 hash split (Sampling.hashSplit). Every
      // stage is md5/regex/quantile-exact, so the DuckDB oracle reproduces
      // the SURVIVING rows and their split labels bit-for-bit — the whole
      // curation path, not just its pieces, is pinned.
      import graft.llm.{RobustStats, Sampling, UrlNorm}
      val docs = ctx.view("documents")
      val messy = docs.select(
        col("doc_id"), col("source"), col("n_chars"),
        concat(
          when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("http://")),
          when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
          col("source"), lit(".Example.COM/a/"), (col("doc_id") % 100).cast("string"),
          when(col("doc_id") % 4 === 0, lit("/index.html")).otherwise(lit("/")),
          when(col("doc_id") % 7 === 0, lit("?utm_source=f&page=1")).otherwise(lit(""))
        ).as("url"))
      val deduped = UrlNorm.dedupByUrl(messy, "url", "doc_id")
        .select("doc_id", "source", "n_chars", "canonical_url")
      val screened = RobustStats.madOutliers(deduped, Seq("source"), col("n_chars"), k = 3.0)
        .filter(!col("is_outlier"))
        .select("doc_id", "source", "n_chars", "canonical_url")
      Sampling.hashSplit(screened, col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "cp")
        .select(col("doc_id"), col("source"), col("canonical_url"), col("split"))
        .orderBy("doc_id")
    }.oracle {
      val cum = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
      val t1 = f"${math.round(cum(0) * 0xffffffffL)}%08x"
      val t2 = f"${math.round(cum(1) * 0xffffffffL)}%08x"
      s"""WITH u AS (
          SELECT doc_id, source, n_chars,
                 (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
                 || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
                 || source || '.Example.COM/a/' || CAST(doc_id % 100 AS VARCHAR)
                 || (CASE WHEN doc_id % 4 = 0 THEN '/index.html' ELSE '/' END)
                 || (CASE WHEN doc_id % 7 = 0 THEN '?utm_source=f&page=1' ELSE '' END) AS url
          FROM documents),
        ns AS (SELECT *, regexp_replace(url, '^https?://', '') AS s1 FROM u),
        parts AS (
          SELECT doc_id, source, n_chars,
                 regexp_replace(lower(regexp_extract(s1, '^[^/?#]*')), '^www\\.', '') AS host,
                 regexp_replace(s1, '^[^/?#]*', '') AS rest
          FROM ns),
        pq AS (
          SELECT doc_id, source, n_chars, host,
                 regexp_replace(regexp_replace(regexp_extract(rest, '^[^?#]*'),
                   '/index\\.html$$', ''), '/$$', '') AS path,
                 list_sort(list_filter(string_split(regexp_extract(rest, '\\?([^#]*)', 1), '&'),
                   p -> p <> '' AND NOT regexp_matches(p, '^(utm_[a-z]+|gclid|fbclid|ref)='))) AS params
          FROM parts),
        canon AS (
          SELECT doc_id, source, n_chars,
                 host || path || (CASE WHEN len(params) > 0
                   THEN '?' || array_to_string(params, '&') ELSE '' END) AS canonical_url
          FROM pq),
        dedup AS (
          SELECT doc_id, source, n_chars, canonical_url FROM canon
          QUALIFY ROW_NUMBER() OVER (PARTITION BY canonical_url ORDER BY doc_id) = 1),
        med AS (
          SELECT source, quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS median
          FROM dedup GROUP BY source),
        mad AS (
          SELECT d.source,
                 quantile_cont(abs(CAST(d.n_chars AS DOUBLE) - m.median), 0.5) AS mad
          FROM dedup d JOIN med m USING (source) GROUP BY d.source),
        screened AS (
          SELECT d.doc_id, d.source, d.canonical_url
          FROM dedup d JOIN med m USING (source) JOIN mad a ON d.source = a.source
          WHERE NOT (CASE WHEN a.mad > 0
            THEN abs((CAST(d.n_chars AS DOUBLE) - m.median) / (1.4826 * a.mad)) > 3.0
            ELSE FALSE END))
        SELECT doc_id, source, canonical_url,
               CASE WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || 'cp'), 1, 8) < '$t1' THEN 'train'
                    WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || 'cp'), 1, 8) < '$t2' THEN 'val'
                    ELSE 'test' END AS split
        FROM screened ORDER BY doc_id"""
    },
    adaptive("q184_crawl_curation", "documents") { (spark, ctx, _) =>
      // END-TO-END web-crawl curation as ONE oracle-checked query,
      // composing the r13 operators: synthetic HTML pages with SHARED nav/
      // footer chrome (real boilerplate) -> HtmlText extraction -> cross-
      // doc span dedup (k=8 strips the chrome from all but the min doc,
      // plus any organic shared runs) -> per-source MAD screen on the
      // POST-dedup kept-token count -> deterministic 80/10/10 hash split.
      // regex/md5/quantile-exact end to end: DuckDB reproduces the
      // surviving rows, their token accounting and split labels
      // byte-for-byte — the composed path is pinned, not just its pieces.
      import graft.llm.{HtmlText, RobustStats, Sampling, SpanDedup}
      val docs = ctx.view("documents")
      val pages = docs.select(col("doc_id"), col("source"),
        concat(
          lit("<html><head><title>Page</title><style>nav{color:red}</style>" +
            "<script>track(1 < 2);</script></head><body>"),
          lit("<nav>home products pricing docs blog careers about contact login signup</nav><p>"),
          col("text"),
          lit("</p><footer>copyright acme corp all rights reserved privacy terms cookies</footer></body></html>")
        ).as("html"))
      // both pins are load-bearing: texts feeds THREE scans (grams,
      // reconstruction, source re-attach) that would each re-run the
      // 7-regex extraction chain, and the dedup stats feed FOUR downstream
      // jobs (madStats' two quantile passes, the outlier join, the final
      // projection) that would each re-run the whole span dedup
      // (measured 15.4 s unpinned → 7.2 s at sf0.1)
      val texts = graft.core.Lineage.pin(
        pages.select(col("doc_id"), col("source"),
          HtmlText.extractText(col("html")).as("text2")))
      val deduped = graft.core.Lineage.pin(
        SpanDedup.dedupSpans(texts, "doc_id", "text2", k = 8)
          .join(texts.select("doc_id", "source"), Seq("doc_id"))
          .withColumn("n_kept_tokens", col("n_tokens") - col("n_tokens_removed"))
          .drop("clean_text"))
      val screened = RobustStats.madOutliers(
        deduped, Seq("source"), col("n_kept_tokens"), k = 3.0)
        .filter(!col("is_outlier"))
        .select("doc_id", "source", "n_tokens", "n_tokens_removed", "n_kept_tokens")
      Sampling.hashSplit(screened, col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "wc")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("n_tokens_removed"), col("n_kept_tokens"), col("split"))
        .orderBy("doc_id")
    }.oracle {
      val cum = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
      val t1 = f"${math.round(cum(0) * 0xffffffffL)}%08x"
      val t2 = f"${math.round(cum(1) * 0xffffffffL)}%08x"
      s"""WITH h AS (
          SELECT doc_id, source,
                 '<html><head><title>Page</title><style>nav{color:red}</style><script>track(1 < 2);</script></head><body>'
                 || '<nav>home products pricing docs blog careers about contact login signup</nav><p>'
                 || text
                 || '</p><footer>copyright acme corp all rights reserved privacy terms cookies</footer></body></html>'
                 AS html
          FROM documents),
        x1 AS (SELECT doc_id, source, regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
        x2 AS (SELECT doc_id, source, regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM x1),
        x3 AS (SELECT doc_id, source, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM x2),
        x4 AS (SELECT doc_id, source, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM x3),
        xe AS (SELECT doc_id, source,
                replace(replace(replace(replace(replace(replace(replace(t,
                  '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                  '&#39;', ''''), '&apos;', ''''), '&amp;', '&') AS t
              FROM x4),
        d AS (
          SELECT doc_id, source,
                 list_filter(string_split_regex(trim(t), '\\s+'), w -> len(w) > 0) AS arr
          FROM xe),
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
        remagg AS (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY doc_id),
        kept AS (
          SELECT d.doc_id, d.source,
                 CAST(len(d.arr) AS BIGINT) AS n_tokens,
                 CAST(coalesce(ra.n_removed, 0) AS BIGINT) AS n_tokens_removed,
                 CAST(len(d.arr) - coalesce(ra.n_removed, 0) AS BIGINT) AS n_kept_tokens
          FROM d LEFT JOIN remagg ra USING (doc_id)),
        med AS (
          SELECT source, quantile_cont(CAST(n_kept_tokens AS DOUBLE), 0.5) AS median
          FROM kept GROUP BY source),
        mad AS (
          SELECT k.source,
                 quantile_cont(abs(CAST(k.n_kept_tokens AS DOUBLE) - m.median), 0.5) AS mad
          FROM kept k JOIN med m USING (source) GROUP BY k.source),
        screened AS (
          SELECT k.*
          FROM kept k JOIN med m USING (source) JOIN mad a ON k.source = a.source
          WHERE NOT (CASE WHEN a.mad > 0
            THEN abs((CAST(k.n_kept_tokens AS DOUBLE) - m.median) / (1.4826 * a.mad)) > 3.0
            ELSE FALSE END))
        SELECT doc_id, source, n_tokens, n_tokens_removed, n_kept_tokens,
               CASE WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || 'wc'), 1, 8) < '$t1' THEN 'train'
                    WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || 'wc'), 1, 8) < '$t2' THEN 'val'
                    ELSE 'test' END AS split
        FROM screened ORDER BY doc_id"""
    },
    adaptive("q188_curation_chain", "documents") { (spark, ctx, _) =>
      // The FULL crawl-curation chain as one oracle-checked query — q184
      // grown by the three stages a production pipeline runs between
      // extraction and the outlier screen: language gate, exact
      // within-doc line dedup, and bloom decontamination. Chain:
      // HTML+chrome -> HtmlText extraction -> stopword langid gate
      // (lang='en'; the deterministic heuristic — the ngram profiles are
      // engine-specific and this synthetic corpus is word salad the
      // calibrated floor rightly refuses, so the floored path is composed
      // through the stage surface in q186 while the chain's gate stays
      // DuckDB-reproducible) -> deterministic 4-token linify + first-
      // occurrence line dedup -> bloom-prefiltered EXACT fingerprint
      // anti-join against the doc_id%13 "eval membership" (the q150
      // contract: result ≡ plain anti-join) -> cross-doc span dedup
      // (k=8, strips the shared chrome) -> per-source MAD screen ->
      // 80/10/10 hash split. regex/md5/quantile-exact end to end; every
      // multi-consumer intermediate Lineage-pinned.
      import graft.llm.{BloomSketch, HtmlText, LineFilter, RobustStats, Sampling, SpanDedup, TextStats}
      val docs = ctx.view("documents")
      val pages = docs.select(col("doc_id"), col("source"),
        concat(
          lit("<html><head><title>Page</title><style>nav{color:red}</style>" +
            "<script>track(1 < 2);</script></head><body>"),
          lit("<nav>home products pricing docs blog careers about contact login signup</nav><p>"),
          col("text"),
          lit("</p><footer>copyright acme corp all rights reserved privacy terms cookies</footer></body></html>")
        ).as("html"))
      val english = pages
        .select(col("doc_id"), col("source"),
          HtmlText.extractText(col("html")).as("text2"))
        .withColumn("lang", TextStats.languageId(col("text2")))
        .filter(col("lang") === "en")
      // cleaned feeds the eval-fingerprint build AND the anti-join big side
      val cleaned = graft.core.Lineage.pin(
        english.select(col("doc_id"), col("source"), col("lang"),
          LineFilter.dedupLines(
            regexp_replace(col("text2"), "(\\S+ \\S+ \\S+ \\S+) ", "$1\n"))
            .as("clean")))
      val evalFps = cleaned.filter(col("doc_id") % 13 === 0)
        .select(md5(col("clean")).as("fp"))
      // decon feeds the span-dedup gram explode, its reconstruction pass,
      // and the source/lang re-attach — three scans
      val decon = graft.core.Lineage.pin(
        BloomSketch.antiJoin(
          cleaned.withColumn("fp", md5(col("clean"))), col("fp"),
          evalFps, col("fp"), bits = 1L << 20, hashes = 3)
          .drop("fp"))
      val deduped = graft.core.Lineage.pin(
        SpanDedup.dedupSpans(decon, "doc_id", "clean", k = 8)
          .join(decon.select("doc_id", "source", "lang"), Seq("doc_id"))
          .withColumn("n_kept_tokens", col("n_tokens") - col("n_tokens_removed"))
          .drop("clean_text"))
      val screened = RobustStats.madOutliers(
        deduped, Seq("source"), col("n_kept_tokens"), k = 3.0)
        .filter(!col("is_outlier"))
        .select("doc_id", "source", "lang", "n_tokens", "n_tokens_removed",
          "n_kept_tokens")
      Sampling.hashSplit(screened, col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "cc")
        .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
          col("n_tokens_removed"), col("n_kept_tokens"), col("split"))
        .orderBy("doc_id")
    }.oracle {
      val cum = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
      val t1 = f"${math.round(cum(0) * 0xffffffffL)}%08x"
      val t2 = f"${math.round(cum(1) * 0xffffffffL)}%08x"
      s"""WITH h AS (
          SELECT doc_id, source,
                 '<html><head><title>Page</title><style>nav{color:red}</style><script>track(1 < 2);</script></head><body>'
                 || '<nav>home products pricing docs blog careers about contact login signup</nav><p>'
                 || text
                 || '</p><footer>copyright acme corp all rights reserved privacy terms cookies</footer></body></html>'
                 AS html
          FROM documents),
        x1 AS (SELECT doc_id, source, regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
        x2 AS (SELECT doc_id, source, regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM x1),
        x3 AS (SELECT doc_id, source, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM x2),
        x4 AS (SELECT doc_id, source, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM x3),
        xe AS (SELECT doc_id, source,
                replace(replace(replace(replace(replace(replace(replace(t,
                  '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                  '&#39;', ''''), '&apos;', ''''), '&amp;', '&') AS t
              FROM x4),
        lt AS (SELECT doc_id, source, t,
                 list_distinct(list_filter(regexp_split_to_array(lower(trim(t)), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0)) AS toks
               FROM xe),
        lh AS (SELECT doc_id, source, t,
                 len(list_intersect(toks, ['der','die','das','und','ist','von','nicht','mit','ein','eine','zu','den'])) AS h_de,
                 len(list_intersect(toks, ['the','and','of','to','in','is','that','it','for','with','was','are'])) AS h_en,
                 len(list_intersect(toks, ['el','la','los','las','es','en','que','una','por','con','para','del'])) AS h_es,
                 len(list_intersect(toks, ['le','la','les','et','est','dans','pour','que','une','des','pas','sur'])) AS h_fr,
                 len(list_intersect(toks, ['il','la','che','di','è','per','con','una','sono','non','più','come'])) AS h_it
               FROM lt),
        eng AS (
          SELECT doc_id, source, 'en' AS lang, t FROM lh
          WHERE greatest(h_de,h_en,h_es,h_fr,h_it) > 0
            AND h_it <> greatest(h_de,h_en,h_es,h_fr,h_it)
            AND h_fr <> greatest(h_de,h_en,h_es,h_fr,h_it)
            AND h_es <> greatest(h_de,h_en,h_es,h_fr,h_it)
            AND h_en = greatest(h_de,h_en,h_es,h_fr,h_it)),
        ml AS (SELECT doc_id, source, lang,
                 regexp_replace(trim(regexp_replace(t, '\\s+', ' ', 'g')),
                   '(\\S+ \\S+ \\S+ \\S+) ', '\\1' || chr(10), 'g') AS m
               FROM eng),
        mx AS (SELECT doc_id, source, lang, string_split(m, chr(10)) AS ls FROM ml),
        ex AS (SELECT doc_id, source, lang, unnest(ls) AS line,
                      unnest(range(1, len(ls) + 1)) AS ord
               FROM mx),
        firsts AS (
          SELECT doc_id, source, lang, line, ord FROM ex
          QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY ord) = 1),
        cln AS (
          SELECT doc_id, source, lang,
                 string_agg(line, chr(10) ORDER BY ord) AS clean
          FROM firsts GROUP BY doc_id, source, lang),
        dec AS (
          SELECT * FROM cln
          WHERE md5(clean) NOT IN (SELECT md5(clean) FROM cln WHERE doc_id % 13 = 0)),
        d AS (
          SELECT doc_id, source, lang,
                 list_filter(string_split_regex(trim(clean), '\\s+'), w -> len(w) > 0) AS arr
          FROM dec),
        g AS (
          SELECT doc_id, pos, md5(array_to_string(arr[pos+1:pos+8], ' ')) AS gh
          FROM (SELECT doc_id, arr, unnest(range(0, len(arr) - 7)) AS pos
                FROM d WHERE len(arr) >= 8)),
        dup AS (
          SELECT gh, min(doc_id) AS keeper FROM g
          GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
        rem AS (
          SELECT DISTINCT g.doc_id, g.pos + u.off AS p
          FROM g JOIN dup USING (gh)
          CROSS JOIN (SELECT unnest(range(0, 8)) AS off) u
          WHERE g.doc_id <> dup.keeper),
        remagg AS (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY doc_id),
        kept AS (
          SELECT d.doc_id, d.source, d.lang,
                 CAST(len(d.arr) AS BIGINT) AS n_tokens,
                 CAST(coalesce(ra.n_removed, 0) AS BIGINT) AS n_tokens_removed,
                 CAST(len(d.arr) - coalesce(ra.n_removed, 0) AS BIGINT) AS n_kept_tokens
          FROM d LEFT JOIN remagg ra USING (doc_id)),
        med AS (
          SELECT source, quantile_cont(CAST(n_kept_tokens AS DOUBLE), 0.5) AS median
          FROM kept GROUP BY source),
        mad AS (
          SELECT k.source,
                 quantile_cont(abs(CAST(k.n_kept_tokens AS DOUBLE) - m.median), 0.5) AS mad
          FROM kept k JOIN med m USING (source) GROUP BY k.source),
        screened AS (
          SELECT k.*
          FROM kept k JOIN med m USING (source) JOIN mad a ON k.source = a.source
          WHERE NOT (CASE WHEN a.mad > 0
            THEN abs((CAST(k.n_kept_tokens AS DOUBLE) - m.median) / (1.4826 * a.mad)) > 3.0
            ELSE FALSE END))
        SELECT doc_id, source, lang, n_tokens, n_tokens_removed, n_kept_tokens,
               CASE WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || 'cc'), 1, 8) < '$t1' THEN 'train'
                    WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || 'cc'), 1, 8) < '$t2' THEN 'val'
                    ELSE 'test' END AS split
        FROM screened ORDER BY doc_id"""
    },
    adaptive("q195_classifier_gated_curation", "documents") { (spark, ctx, _) =>
      // The q188 curation chain grown by MODEL-BASED QUALITY FILTERING —
      // the classifier gate a CCNet-style pipeline runs between cleaning
      // and dedup: promo pages (doc_id%3=0) carry promo phrases in their
      // body; an exact-count NB classifier (llm/NaiveBayes, q194) trains
      // on the line-deduped text of the doc_id%5!=0 labeled seed split,
      // predicts EVERY doc, and only predicted-clean docs continue into
      // decontamination -> span dedup -> MAD screen -> hash split. The
      // whole composition stays under the DuckDB oracle: regex/md5/
      // integer-count/quantile-exact end to end, argmax protected by the
      // macroscopic salt margins (q194). Multi-consumer intermediates
      // Lineage-pinned.
      import graft.llm.{BloomSketch, HtmlText, LineFilter, NaiveBayes, RobustStats, Sampling, SpanDedup, TextStats}
      val docs = ctx.view("documents")
      val pages = docs.select(col("doc_id"), col("source"),
        concat(
          lit("<html><head><title>Page</title><style>nav{color:red}</style>" +
            "<script>track(1 < 2);</script></head><body>"),
          lit("<nav>home products pricing docs blog careers about contact login signup</nav><p>"),
          col("text"),
          when(col("doc_id") % 3 === 0,
            lit(" subscribe now limited offer click here"))
            .otherwise(lit(" method results analysis discussion further")),
          lit("</p><footer>copyright acme corp all rights reserved privacy terms cookies</footer></body></html>")
        ).as("html"))
      val english = pages
        .select(col("doc_id"), col("source"),
          HtmlText.extractText(col("html")).as("text2"))
        .withColumn("lang", TextStats.languageId(col("text2")))
        .filter(col("lang") === "en")
      // cleaned feeds classifier training, prediction AND the gated join
      val cleaned = graft.core.Lineage.pin(
        english.select(col("doc_id"), col("source"), col("lang"),
          LineFilter.dedupLines(
            regexp_replace(col("text2"), "(\\S+ \\S+ \\S+ \\S+) ", "$1\n"))
            .as("clean")))
      val labeled = cleaned.withColumn("label_true",
        when(col("doc_id") % 3 === 0, lit("promo")).otherwise(lit("clean")))
      val model = NaiveBayes.train(
        labeled.filter(col("doc_id") % 5 =!= 0), "clean", "label_true")
      val gated = graft.core.Lineage.pin(
        cleaned.join(
          NaiveBayes.predict(cleaned, "doc_id", "clean", model)
            .filter(col("label_pred") === "clean")
            .select("doc_id"),
          Seq("doc_id")))
      val evalFps = gated.filter(col("doc_id") % 13 === 0)
        .select(md5(col("clean")).as("fp"))
      val decon = graft.core.Lineage.pin(
        BloomSketch.antiJoin(
          gated.withColumn("fp", md5(col("clean"))), col("fp"),
          evalFps, col("fp"), bits = 1L << 20, hashes = 3)
          .drop("fp"))
      val deduped = graft.core.Lineage.pin(
        SpanDedup.dedupSpans(decon, "doc_id", "clean", k = 8)
          .join(decon.select("doc_id", "source", "lang"), Seq("doc_id"))
          .withColumn("n_kept_tokens", col("n_tokens") - col("n_tokens_removed"))
          .drop("clean_text"))
      val screened = RobustStats.madOutliers(
        deduped, Seq("source"), col("n_kept_tokens"), k = 3.0)
        .filter(!col("is_outlier"))
        .select("doc_id", "source", "lang", "n_tokens", "n_tokens_removed",
          "n_kept_tokens")
      Sampling.hashSplit(screened, col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "cc")
        .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
          col("n_tokens_removed"), col("n_kept_tokens"), col("split"))
        .orderBy("doc_id")
    }.oracle {
      // q188's oracle with the salted page bodies and the exact-count NB
      // gate (q194's CTEs) composed between line dedup and
      // decontamination; floats never surface (argmax only, macroscopic
      // salt margins)
      val cum = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
      val t1 = f"${math.round(cum(0) * 0xffffffffL)}%08x"
      val t2 = f"${math.round(cum(1) * 0xffffffffL)}%08x"
      s"""WITH h AS (
          SELECT doc_id, source,
                 '<html><head><title>Page</title><style>nav{color:red}</style><script>track(1 < 2);</script></head><body>'
                 || '<nav>home products pricing docs blog careers about contact login signup</nav><p>'
                 || text
                 || CASE WHEN doc_id % 3 = 0
                      THEN ' subscribe now limited offer click here'
                      ELSE ' method results analysis discussion further' END
                 || '</p><footer>copyright acme corp all rights reserved privacy terms cookies</footer></body></html>'
                 AS html
          FROM documents),
        x1 AS (SELECT doc_id, source, regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
        x2 AS (SELECT doc_id, source, regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM x1),
        x3 AS (SELECT doc_id, source, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM x2),
        x4 AS (SELECT doc_id, source, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM x3),
        xe AS (SELECT doc_id, source,
                replace(replace(replace(replace(replace(replace(replace(t,
                  '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                  '&#39;', ''''), '&apos;', ''''), '&amp;', '&') AS t
              FROM x4),
        lt AS (SELECT doc_id, source, t,
                 list_distinct(list_filter(regexp_split_to_array(lower(trim(t)), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0)) AS toks
               FROM xe),
        lh AS (SELECT doc_id, source, t,
                 len(list_intersect(toks, ['der','die','das','und','ist','von','nicht','mit','ein','eine','zu','den'])) AS h_de,
                 len(list_intersect(toks, ['the','and','of','to','in','is','that','it','for','with','was','are'])) AS h_en,
                 len(list_intersect(toks, ['el','la','los','las','es','en','que','una','por','con','para','del'])) AS h_es,
                 len(list_intersect(toks, ['le','la','les','et','est','dans','pour','que','une','des','pas','sur'])) AS h_fr,
                 len(list_intersect(toks, ['il','la','che','di','è','per','con','una','sono','non','più','come'])) AS h_it
               FROM lt),
        eng AS (
          SELECT doc_id, source, 'en' AS lang, t FROM lh
          WHERE greatest(h_de,h_en,h_es,h_fr,h_it) > 0
            AND h_it <> greatest(h_de,h_en,h_es,h_fr,h_it)
            AND h_fr <> greatest(h_de,h_en,h_es,h_fr,h_it)
            AND h_es <> greatest(h_de,h_en,h_es,h_fr,h_it)
            AND h_en = greatest(h_de,h_en,h_es,h_fr,h_it)),
        ml AS (SELECT doc_id, source, lang,
                 regexp_replace(trim(regexp_replace(t, '\\s+', ' ', 'g')),
                   '(\\S+ \\S+ \\S+ \\S+) ', '\\1' || chr(10), 'g') AS m
               FROM eng),
        mx AS (SELECT doc_id, source, lang, string_split(m, chr(10)) AS ls FROM ml),
        ex AS (SELECT doc_id, source, lang, unnest(ls) AS line,
                      unnest(range(1, len(ls) + 1)) AS ord
               FROM mx),
        firsts AS (
          SELECT doc_id, source, lang, line, ord FROM ex
          QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY ord) = 1),
        cln AS (
          SELECT doc_id, source, lang,
                 string_agg(line, chr(10) ORDER BY ord) AS clean
          FROM firsts GROUP BY doc_id, source, lang),
        tr AS (
          SELECT doc_id, clean,
                 CASE WHEN doc_id % 3 = 0 THEN 'promo' ELSE 'clean' END AS label_true
          FROM cln WHERE doc_id % 5 <> 0),
        ttok AS (
          SELECT label_true AS label,
                 unnest(list_filter(string_split_regex(trim(clean), '\\s+'), w -> len(w) > 0)) AS token
          FROM tr),
        token_table AS (SELECT label, token, count(*) AS cnt FROM ttok GROUP BY 1, 2),
        class_table AS (
          SELECT t.label, dd.n_docs, count(*) AS n_tokens
          FROM ttok t
          JOIN (SELECT label_true AS label, count(*) AS n_docs FROM tr GROUP BY 1) dd
            USING (label)
          GROUP BY 1, 2),
        v AS (SELECT count(DISTINCT token) AS vocab FROM token_table),
        tot AS (SELECT sum(n_docs) AS total_docs FROM class_table),
        dtok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(trim(clean), '\\s+'), w -> len(w) > 0)) AS token
          FROM cln),
        contrib AS (
          SELECT d2.doc_id, c.label,
                 sum(ln(coalesce(tt.cnt, 0) + 1) - ln(c.n_tokens + v.vocab)) AS token_score
          FROM dtok d2
          CROSS JOIN class_table c
          CROSS JOIN v
          LEFT JOIN token_table tt ON tt.label = c.label AND tt.token = d2.token
          GROUP BY 1, 2),
        nbscored AS (
          SELECT b.doc_id, c.label,
                 ln(c.n_docs) - ln(t.total_docs) + coalesce(co.token_score, 0) AS score
          FROM (SELECT DISTINCT doc_id FROM cln) b
          CROSS JOIN class_table c
          CROSS JOIN tot t
          LEFT JOIN contrib co ON co.doc_id = b.doc_id AND co.label = c.label),
        gate AS (
          SELECT doc_id FROM (
            SELECT doc_id, label,
                   row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rn
            FROM nbscored)
          WHERE rn = 1 AND label = 'clean'),
        gated AS (SELECT cln.* FROM cln JOIN gate USING (doc_id)),
        dec AS (
          SELECT * FROM gated
          WHERE md5(clean) NOT IN (SELECT md5(clean) FROM gated WHERE doc_id % 13 = 0)),
        d AS (
          SELECT doc_id, source, lang,
                 list_filter(string_split_regex(trim(clean), '\\s+'), w -> len(w) > 0) AS arr
          FROM dec),
        g AS (
          SELECT doc_id, pos, md5(array_to_string(arr[pos+1:pos+8], ' ')) AS gh
          FROM (SELECT doc_id, arr, unnest(range(0, len(arr) - 7)) AS pos
                FROM d WHERE len(arr) >= 8)),
        dup AS (
          SELECT gh, min(doc_id) AS keeper FROM g
          GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
        rem AS (
          SELECT DISTINCT g.doc_id, g.pos + u.off AS p
          FROM g JOIN dup USING (gh)
          CROSS JOIN (SELECT unnest(range(0, 8)) AS off) u
          WHERE g.doc_id <> dup.keeper),
        remagg AS (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY doc_id),
        kept AS (
          SELECT d.doc_id, d.source, d.lang,
                 CAST(len(d.arr) AS BIGINT) AS n_tokens,
                 CAST(coalesce(ra.n_removed, 0) AS BIGINT) AS n_tokens_removed,
                 CAST(len(d.arr) - coalesce(ra.n_removed, 0) AS BIGINT) AS n_kept_tokens
          FROM d LEFT JOIN remagg ra USING (doc_id)),
        med AS (
          SELECT source, quantile_cont(CAST(n_kept_tokens AS DOUBLE), 0.5) AS median
          FROM kept GROUP BY source),
        mad AS (
          SELECT k.source,
                 quantile_cont(abs(CAST(k.n_kept_tokens AS DOUBLE) - m.median), 0.5) AS mad
          FROM kept k JOIN med m USING (source) GROUP BY k.source),
        screened AS (
          SELECT k.*
          FROM kept k JOIN med m USING (source) JOIN mad a ON k.source = a.source
          WHERE NOT (CASE WHEN a.mad > 0
            THEN abs((CAST(k.n_kept_tokens AS DOUBLE) - m.median) / (1.4826 * a.mad)) > 3.0
            ELSE FALSE END))
        SELECT doc_id, source, lang, n_tokens, n_tokens_removed, n_kept_tokens,
               CASE WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || 'cc'), 1, 8) < '$t1' THEN 'train'
                    WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || 'cc'), 1, 8) < '$t2' THEN 'val'
                    ELSE 'test' END AS split
        FROM screened ORDER BY doc_id"""
    },
    fixed("q211_quality_signal_gate", "documents") { (spark, ctx, _) =>
      // The q207/q208 quality signals COMPOSED into a curation-chain leg,
      // self-verifying — each gate provably LOAD-BEARING, not shadowed:
      // (a) padding docs (doc_id%9==3 → 240×'a') die on the ENTROPY floor
      // alone; (b) repetition docs (doc_id%9==0 → the doc's own first 480
      // chars repeated 16×) keep a NATURAL character distribution — entropy
      // cannot see the corruption — and die ONLY on the DEFLATE floor
      // (long-range repetition is exactly what the compression signal
      // exists to catch); (c) clean docs pass both gates and continue into
      // the downstream hash split (the chain composes; survivors carry a
      // split label). `ok` pins the per-doc fate against its construction:
      // padded ⇒ ent < 2.2; repeated ⇒ ent ≥ 2.2 AND ratio < 0.2 (the
      // deflate gate fires where entropy is blind); clean ⇒ both gates
      // pass and a split label exists. Thresholds sit mid-gap: natural
      // text entropy ≈ 2.8 nats vs 0 for padding; natural deflate ratio ≈
      // 0.4+ vs < 0.1 for 16× repetition (16 copies amortize deflate's
      // fixed overhead even for sub-100-char docs, where 4 copies did
      // not; 480×16 = 7680 chars ≤ 30720 BYTES even at 4-byte UTF-8 —
      // inside deflate's 32 KB BYTE window regardless of script, the
      // q208 gate discipline).
      import graft.functions.CharEntropyExpr.char_entropy
      import graft.functions.DeflateRatioExpr.deflate_ratio
      import graft.llm.Sampling
      val docs = ctx.view("documents").select(col("doc_id"), col("source"), col("text"))
      val staged = docs.withColumn("text2",
        when(col("doc_id") % 9 === 3, repeat(lit("a"), 240))
          .when(col("doc_id") % 9 === 0,
            repeat(substring(col("text"), 1, 480), 16))
          .otherwise(col("text")))
      // both signals are narrow codegen'd projections — ONE corpus scan
      // computes them; the pin stops the gate and the report re-running it
      val sig = graft.core.Lineage.pin(staged
        .select(col("doc_id"), col("source"),
          char_entropy(col("text2")).as("ent"),
          deflate_ratio(col("text2")).as("ratio")))
      val gated = sig.filter(col("ent") >= 2.2 && col("ratio") >= 0.2)
      val split = Sampling.hashSplit(gated, col("doc_id"),
        Seq("train" -> 0.9, "val" -> 0.1), salt = "qsg")
      sig.join(split.select(col("doc_id"), col("split")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          round(col("ent"), 6).as("ent"), round(col("ratio"), 6).as("ratio"),
          col("split"),
          when(col("doc_id") % 9 === 3, col("ent") < 2.2)
            .when(col("doc_id") % 9 === 0,
              col("ent") >= 2.2 && col("ratio") < 0.2)
            .otherwise(col("ent") >= 2.2 && col("ratio") >= 0.2 &&
              col("split").isNotNull).as("ok"))
        .orderBy("doc_id")
    }.selfChecked,
    fixed("q212_entropy_gated_split", "documents") { (spark, ctx, _) =>
      // The entropy gate COMPOSED and FULL-ORACLE-checked — q211's chain
      // with the DuckDB-expressible half held to byte-for-byte parity
      // (q207 proves the expression standalone; this proves it feeding a
      // downstream operator): padding injection (doc_id%9==3 → 240×'a')
      // -> char_entropy floor (2.2 nats sits mid-gap: padding ≈ 0,
      // natural text ≈ 2.8 — no boundary value exists, so the float
      // comparison cannot flip cross-engine) -> `\s+` token count ->
      // deterministic 80/10/10 hash split. DuckDB reproduces the staged
      // text, the unnest-aggregate entropy, the gate, the token
      // accounting and the md5 split labels exactly.
      import graft.functions.CharEntropyExpr.char_entropy
      import graft.llm.Sampling
      val docs = ctx.view("documents").select(col("doc_id"), col("source"), col("text"))
      val staged = docs.withColumn("text2",
        when(col("doc_id") % 9 === 3, repeat(lit("a"), 240))
          .otherwise(col("text")))
      val sig = staged.select(col("doc_id"), col("source"),
        char_entropy(col("text2")).as("ent"),
        size(filter(split(trim(col("text2")), "\\s+"),
          t => length(t) > 0)).cast("long").as("n_tokens"))
      val gated = sig.filter(col("ent") >= 2.2)
      Sampling.hashSplit(gated, col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "qe")
        .select(col("doc_id"), col("source"),
          round(col("ent"), 6).as("char_entropy"), col("n_tokens"), col("split"))
        .orderBy("doc_id")
    }.oracle {
      // q207's unnest-aggregate entropy over the STAGED text (padding
      // injected by the same CASE), the 2.2-nat gate, the `\s+` token
      // count and q184's md5 split arithmetic — the composed chain
      // reproduced end to end
      val cum = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
      val t1 = f"${math.round(cum(0) * 0xffffffffL)}%08x"
      val t2 = f"${math.round(cum(1) * 0xffffffffL)}%08x"
      s"""WITH staged AS (
          SELECT doc_id, source,
                 CASE WHEN doc_id % 9 = 3 THEN repeat('a', 240) ELSE text END AS t
          FROM documents),
        ent AS (
          SELECT doc_id, -sum(p * ln(p)) AS ent FROM (
            SELECT doc_id,
                   count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY doc_id) AS p
            FROM (SELECT doc_id, unnest(string_split(t, '')) AS ch FROM staged)
            GROUP BY doc_id, ch)
          GROUP BY doc_id),
        gated AS (
          SELECT s.doc_id, s.source, abs(e.ent) AS ent,
                 CAST(len(list_filter(string_split_regex(trim(s.t), '\\s+'),
                   x -> len(x) > 0)) AS BIGINT) AS n_tokens
          FROM staged s JOIN ent e USING (doc_id)
          WHERE abs(e.ent) >= 2.2)
        SELECT doc_id, source, round(ent, 6) AS char_entropy, n_tokens,
               CASE WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || 'qe'), 1, 8) < '$t1' THEN 'train'
                    WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || 'qe'), 1, 8) < '$t2' THEN 'val'
                    ELSE 'test' END AS split
        FROM gated ORDER BY doc_id"""
    },
    fixed("q198_nb_incremental", "documents") { (spark, ctx, _) =>
      // Incremental classifier retrain under the FULL ORACLE
      // (llm/NaiveBayes.merge): train on batch A, fold batch B in by exact
      // count addition — no pass over A — and predict the corpus with the
      // merged model. The oracle trains ONCE over A ∪ B (q194's SQL, same
      // train set), so passing byte-for-byte pins the incremental
      // contract itself cross-engine: merge(train(A), train(B)) IS
      // train(A ∪ B) — the daily-batch story the span/minhash/sem indexes
      // have, here for the model tier.
      import graft.llm.NaiveBayes
      val base = ctx.view("documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0, lit("promo"))
          .otherwise(lit("clean")).as("label_true"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit(" subscribe now limited offer click here"))
            .otherwise(lit(" method results analysis discussion further")))
          .as("text2"))
      val batchA = base.filter((col("doc_id") % 5).isin(1, 2))
      val batchB = base.filter((col("doc_id") % 5).isin(3, 4))
      val merged = NaiveBayes.merge(
        NaiveBayes.train(batchA, "text2", "label_true"),
        NaiveBayes.train(batchB, "text2", "label_true"))
      val pred = NaiveBayes.predict(base, "doc_id", "text2", merged)
      base.select(col("doc_id"), col("label_true"))
        .join(pred, Seq("doc_id"))
        .select(col("doc_id"), col("label_true"), col("label_pred"),
          col("n_tokens"))
        .orderBy("doc_id")
    }.oracle(
      // IDENTICAL SQL to q194 — deliberately: the oracle trains once over
      // A ∪ B (= doc_id % 5 IN (1,2,3,4), q194's train set), while the
      // engine trains the two batches separately and count-merges. Passing
      // means merge(train(A), train(B)) == train(A ∪ B) cross-engine.
      """WITH base AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN 'promo' ELSE 'clean' END AS label_true,
                 text || CASE WHEN doc_id % 3 = 0
                     THEN ' subscribe now limited offer click here'
                     ELSE ' method results analysis discussion further' END AS text2
          FROM documents),
        train AS (SELECT * FROM base WHERE doc_id % 5 <> 0),
        ttok AS (
          SELECT label_true AS label,
                 unnest(list_filter(string_split_regex(trim(text2), '\s+'), t -> len(t) > 0)) AS token
          FROM train),
        token_table AS (SELECT label, token, count(*) AS cnt FROM ttok GROUP BY 1, 2),
        class_table AS (
          SELECT t.label, d.n_docs, count(*) AS n_tokens
          FROM ttok t
          JOIN (SELECT label_true AS label, count(*) AS n_docs FROM train GROUP BY 1) d
            USING (label)
          GROUP BY 1, 2),
        v AS (SELECT count(DISTINCT token) AS vocab FROM token_table),
        tot AS (SELECT sum(n_docs) AS total_docs FROM class_table),
        dtok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(trim(text2), '\s+'), t -> len(t) > 0)) AS token
          FROM base),
        contrib AS (
          SELECT d.doc_id, c.label,
                 sum(ln(coalesce(tt.cnt, 0) + 1) - ln(c.n_tokens + v.vocab)) AS token_score
          FROM dtok d
          CROSS JOIN class_table c
          CROSS JOIN v
          LEFT JOIN token_table tt ON tt.label = c.label AND tt.token = d.token
          GROUP BY 1, 2),
        ntok AS (SELECT doc_id, count(*) AS n_tokens FROM dtok GROUP BY 1),
        scored AS (
          SELECT b.doc_id, c.label,
                 ln(c.n_docs) - ln(t.total_docs) + coalesce(co.token_score, 0) AS score
          FROM (SELECT DISTINCT doc_id FROM base) b
          CROSS JOIN class_table c
          CROSS JOIN tot t
          LEFT JOIN contrib co ON co.doc_id = b.doc_id AND co.label = c.label)
        SELECT b.doc_id, b.label_true, s.label AS label_pred,
               CAST(coalesce(n.n_tokens, 0) AS BIGINT) AS n_tokens
        FROM base b
        JOIN (SELECT doc_id, label,
                     row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rn
              FROM scored) s
          ON s.doc_id = b.doc_id AND s.rn = 1
        LEFT JOIN ntok n ON n.doc_id = b.doc_id
        ORDER BY b.doc_id"""),
    fixed("q194_nb_classifier", "documents") { (spark, ctx, _) =>
      // Model-based quality filtering under the FULL ORACLE
      // (llm/NaiveBayes): the classifier step of a CCNet-style curation
      // pipeline — train a text classifier on labeled docs, bucket the
      // corpus by prediction — in its exact-count multinomial-NB form, the
      // one classifier family whose training is reproducible cross-engine
      // (every parameter is an integer count; gradient models depend on
      // float iteration order). Labels and class-salt phrases derive
      // deterministically from doc_id; the salts give macroscopic class
      // margins, so the argmax is stable even though raw log-prob sums
      // differ across engines in the last ulp — floats never leave the
      // engine (output = predictions + integer counts only).
      import graft.llm.NaiveBayes
      val base = ctx.view("documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0, lit("promo"))
          .otherwise(lit("clean")).as("label_true"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit(" subscribe now limited offer click here"))
            .otherwise(lit(" method results analysis discussion further")))
          .as("text2"))
      val train = base.filter(col("doc_id") % 5 =!= 0)
      val model = NaiveBayes.train(train, "text2", "label_true")
      val pred = NaiveBayes.predict(base, "doc_id", "text2", model)
      base.select(col("doc_id"), col("label_true"))
        .join(pred, Seq("doc_id"))
        .select(col("doc_id"), col("label_true"), col("label_pred"),
          col("n_tokens"))
        .orderBy("doc_id")
    }.oracle(
      // the SAME Laplace-smoothed multinomial NB in DuckDB SQL: identical
      // integer count tables, identical score formula; output carries only
      // the argmax prediction and integer counts (raw float scores differ
      // in the last ulp across engines; the salted class margins are
      // macroscopic, so the argmax cannot flip)
      """WITH base AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN 'promo' ELSE 'clean' END AS label_true,
                 text || CASE WHEN doc_id % 3 = 0
                     THEN ' subscribe now limited offer click here'
                     ELSE ' method results analysis discussion further' END AS text2
          FROM documents),
        train AS (SELECT * FROM base WHERE doc_id % 5 <> 0),
        ttok AS (
          SELECT label_true AS label,
                 unnest(list_filter(string_split_regex(trim(text2), '\s+'), t -> len(t) > 0)) AS token
          FROM train),
        token_table AS (SELECT label, token, count(*) AS cnt FROM ttok GROUP BY 1, 2),
        class_table AS (
          SELECT t.label, d.n_docs, count(*) AS n_tokens
          FROM ttok t
          JOIN (SELECT label_true AS label, count(*) AS n_docs FROM train GROUP BY 1) d
            USING (label)
          GROUP BY 1, 2),
        v AS (SELECT count(DISTINCT token) AS vocab FROM token_table),
        tot AS (SELECT sum(n_docs) AS total_docs FROM class_table),
        dtok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(trim(text2), '\s+'), t -> len(t) > 0)) AS token
          FROM base),
        contrib AS (
          SELECT d.doc_id, c.label,
                 sum(ln(coalesce(tt.cnt, 0) + 1) - ln(c.n_tokens + v.vocab)) AS token_score
          FROM dtok d
          CROSS JOIN class_table c
          CROSS JOIN v
          LEFT JOIN token_table tt ON tt.label = c.label AND tt.token = d.token
          GROUP BY 1, 2),
        ntok AS (SELECT doc_id, count(*) AS n_tokens FROM dtok GROUP BY 1),
        scored AS (
          SELECT b.doc_id, c.label,
                 ln(c.n_docs) - ln(t.total_docs) + coalesce(co.token_score, 0) AS score
          FROM (SELECT DISTINCT doc_id FROM base) b
          CROSS JOIN class_table c
          CROSS JOIN tot t
          LEFT JOIN contrib co ON co.doc_id = b.doc_id AND co.label = c.label)
        SELECT b.doc_id, b.label_true, s.label AS label_pred,
               CAST(coalesce(n.n_tokens, 0) AS BIGINT) AS n_tokens
        FROM base b
        JOIN (SELECT doc_id, label,
                     row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rn
              FROM scored) s
          ON s.doc_id = b.doc_id AND s.rn = 1
        LEFT JOIN ntok n ON n.doc_id = b.doc_id
        ORDER BY b.doc_id"""),
    fixed("q153_token_budget", "documents") { (spark, ctx, _) =>
      // Token-budget mixture (Sampling.tokenBudgetSample): each language
      // contributes at most its token budget, rows chosen in salted-hash
      // order — the unit real training mixes are specified in. Integer
      // prefix sums are engine-exact, so the oracle reproduces the kept
      // set bit-for-bit via the window formulation the slicedPrefix shape
      // replaces at scale.
      graft.llm.Sampling.tokenBudgetSample(
          ctx.view("documents"), "lang", col("n_chars"),
          Map("en" -> 60000L, "fr" -> 25000L), default = 15000L,
          key = col("doc_id"), salt = "b1")
        .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    }.oracle(
      // the window formulation of the slicedPrefix shape: integer cumulative
      // n_chars in salted-md5 order per language, kept while <= the budget
      """WITH c AS (
          SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
                 SUM(COALESCE(CAST(n_chars AS BIGINT), 0)) OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || 'b1')
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM documents)
        SELECT doc_id, lang, n_chars FROM c
        WHERE cum <= CASE lang WHEN 'en' THEN 60000 WHEN 'fr' THEN 25000 ELSE 15000 END
        ORDER BY doc_id"""),
    fixed("q81_hash_sample", "documents") { (spark, ctx, _) =>
      // Deterministic md5-prefix sampling (retry-stable, cross-table aligned);
      // oracle replays the identical hash threshold in DuckDB.
      graft.llm.Sampling
        .hashSample(ctx.view("documents"), col("doc_id"), 0.1, "s1")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }.oracle(
      // 0x1999999a = round(0.1 * 0xffffffff): same threshold hashSample derives
      """SELECT doc_id FROM documents
        WHERE SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || 's1'), 1, 8) < '1999999a'
        ORDER BY doc_id"""),
    fixed("q83_group_cap", "orders") { (spark, ctx, _) =>
      graft.llm.Sampling
        .groupCap(ctx.view("orders"), Seq("o_orderpriority"), Seq(col("o_orderkey")), 50)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .orderBy("o_orderkey")
    }.oracle(
      """SELECT o_orderkey, o_orderpriority FROM (
          SELECT o_orderkey, o_orderpriority,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS rn
          FROM orders) t
        WHERE rn <= 50
        ORDER BY o_orderkey"""),
    fixed("q84_stratified_sample", "customer") { (spark, ctx, _) =>
      graft.llm.Sampling
        .stratifiedExact(ctx.view("customer"), Seq("c_mktsegment"), col("c_custkey"), 0.1, "z")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }.oracle(
      """WITH t AS (
          SELECT c_custkey, c_mktsegment,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                   ORDER BY MD5(CAST(c_custkey AS VARCHAR) || 'z')) AS rn,
                 COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
          FROM customer)
        SELECT c_custkey, c_mktsegment FROM t
        WHERE rn <= CEIL(n * 0.1)
        ORDER BY c_custkey"""),
    adaptive("q90_decontaminate", "documents") { (spark, ctx, _) =>
      // Benchmark decontamination (Decontaminate.overlap): eval set = every
      // 17th doc, train = the rest; a train doc is contaminated when it
      // shares a word 4-gram with any eval doc. hashed=false here so the
      // gram strings themselves are the join keys — bit-exact vs the SQL
      // oracle; the at-scale path hashes grams to 8-byte keys
      // (DecontaminateSpec pins hashed ≡ string results).
      val docs = ctx.view("documents")
      val evalSet = docs.filter(col("doc_id") % 17 === 0)
      val train = docs.filter(col("doc_id") % 17 =!= 0)
      graft.llm.Decontaminate
        .overlap(train, "doc_id", "text", evalSet, "text", n = 4, hashed = false)
        .orderBy("doc_id")
    }.oracle(
      """WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
          FROM documents
        ), grams AS (
          SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 4 + 2),
                   i -> array_to_string(list_slice(t, i, i + 4 - 1), ' ')))) AS g
          FROM toks WHERE len(t) >= 4
        ), ev AS (
          SELECT DISTINCT g FROM grams WHERE doc_id % 17 = 0
        )
        SELECT tg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched
        FROM grams tg JOIN ev USING (g)
        WHERE tg.doc_id % 17 <> 0
        GROUP BY tg.doc_id
        ORDER BY tg.doc_id"""),
    fixed("q94_weighted_sample", "documents") { (spark, ctx, _) =>
      // Quality-weighted downsampling (Sampling.weightedHashSample): keep
      // probability ∝ document length here (stand-in for a quality score).
      // Narrow map, no shuffle; threshold arithmetic is exact in doubles so
      // the oracle reproduces the sample bit-for-bit.
      graft.llm.Sampling
        .weightedHashSample(ctx.view("documents"), col("doc_id"),
          col("n_chars").cast("double") / 1000.0, salt = "w1")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }.oracle(
      // per-row threshold = lpad(hex(floor(clamp(w)·(2^32−1))), 8): every
      // step exact in IEEE doubles → identical keep set on both engines
      """SELECT doc_id, n_chars FROM documents
        WHERE SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || 'w1'), 1, 8) <
              LPAD(LOWER(TO_HEX(CAST(FLOOR(
                LEAST(1.0, GREATEST(0.0, CAST(n_chars AS DOUBLE) / 1000.0)) * 4294967295.0
              ) AS BIGINT))), 8, '0')
        ORDER BY doc_id"""),
    fixed("q95_mixture_sample", "documents") { (spark, ctx, _) =>
      // Target-mixture resampling (Sampling.mixtureExact): upweight two
      // curated sources, downsample the rest to 5% — the "data mix" step
      // before training. Exact per-group counts, hash-ordered choice.
      graft.llm.Sampling
        .mixtureExact(ctx.view("documents"), "source",
          Map("src0" -> 0.5, "src1" -> 0.25), default = 0.05,
          key = col("doc_id"), salt = "m1")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }.oracle(
      // rates CAST AS DOUBLE so ceil(n·rate) runs in the same IEEE
      // arithmetic as the engine (a DECIMAL rate would ceil exactly and
      // disagree at representation boundaries)
      """WITH t AS (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY MD5(CAST(doc_id AS VARCHAR) || 'm1')) AS rn,
                 COUNT(*) OVER (PARTITION BY source) AS n,
                 CASE source WHEN 'src0' THEN CAST(0.5 AS DOUBLE)
                             WHEN 'src1' THEN CAST(0.25 AS DOUBLE)
                             ELSE CAST(0.05 AS DOUBLE) END AS rate
          FROM documents)
        SELECT doc_id, source FROM t
        WHERE rn <= CEIL(n * rate)
        ORDER BY doc_id"""),
    fixed("q146_hash_split", "documents") { (spark, ctx, _) =>
      // Deterministic train/val/test split (Sampling.hashSplit): banded
      // salted-md5 labels, 80/10/10. Narrow map, no shuffle; the band
      // thresholds are the same literals on both engines, so the oracle
      // reproduces every label bit-for-bit.
      graft.llm.Sampling
        .hashSplit(ctx.view("documents"), col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "sp")
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }.oracle {
      // thresholds computed with the SAME cumulative-sum arithmetic as
      // hashSplit (0.8+0.1 in IEEE, not the literal 0.9), then embedded as
      // the identical hex literals both engines compare against
      val cum = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
      val t1 = f"${math.round(cum(0) * 0xffffffffL)}%08x"
      val t2 = f"${math.round(cum(1) * 0xffffffffL)}%08x"
      s"""SELECT doc_id,
            CASE WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || 'sp'), 1, 8) < '$t1' THEN 'train'
                 WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || 'sp'), 1, 8) < '$t2' THEN 'val'
                 ELSE 'test' END AS split
        FROM documents ORDER BY doc_id"""
    },
    fixed("q145_weighted_interleave", "documents") { (spark, ctx, _) =>
      // Deterministic training-mix interleave (llm/Interleave): one total
      // order where src0 appears at 4x and src1 at 2x the base rate —
      // weighted round-robin via virtual time rank/weight, uniformly mixed
      // from the first row. Exact-integer / literal-double division → both
      // engines compute identical virtual times, hence the identical
      // permutation.
      graft.llm.Interleave
        .weightedInterleave(ctx.view("documents"), "source",
          Map("src0" -> 4.0, "src1" -> 2.0), default = 1.0,
          key = col("doc_id"), salt = "i1")
        .select(col("doc_id"), col("source"), col("pos"))
        .orderBy("doc_id")
    }.oracle(
      // same stride schedule: per-source md5 rank, vtime = rn/w, global
      // enumeration by (vtime, source, rn) — a total order both engines
      // compute bit-identically
      """WITH t AS (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY MD5(CAST(doc_id AS VARCHAR) || 'i1')) AS rn,
                 CASE source WHEN 'src0' THEN CAST(4.0 AS DOUBLE)
                             WHEN 'src1' THEN CAST(2.0 AS DOUBLE)
                             ELSE CAST(1.0 AS DOUBLE) END AS w
          FROM documents)
        SELECT doc_id, source,
               CAST(ROW_NUMBER() OVER (ORDER BY CAST(rn AS DOUBLE) / w, source, rn) - 1 AS BIGINT) AS pos
        FROM t ORDER BY doc_id"""),
    fixed("q139_temperature_sample", "documents") { (spark, ctx, _) =>
      // Temperature-scaled mixture (Sampling.temperatureSample, α=0.5):
      // kept counts ∝ √|group| over the skewed `lang` column — the dominant
      // language is downweighted hardest, small ones kept nearly whole.
      graft.llm.Sampling
        .temperatureSample(ctx.view("documents"), "lang", scale = 3,
          key = col("doc_id"), salt = "t1")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }.oracle(
      // ceil(sqrt(n)·scale): sqrt and multiply are single correctly-rounded
      // IEEE ops on an exact integer count — both engines produce the
      // identical target, hence the identical md5-ranked kept set
      """WITH t AS (
          SELECT doc_id, lang,
                 ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY MD5(CAST(doc_id AS VARCHAR) || 't1')) AS rn,
                 COUNT(*) OVER (PARTITION BY lang) AS n
          FROM documents)
        SELECT doc_id, lang FROM t
        WHERE rn <= LEAST(n, CAST(CEIL(SQRT(CAST(n AS DOUBLE)) * CAST(3 AS DOUBLE)) AS BIGINT))
        ORDER BY doc_id"""),
    fixed("q98_deterministic_shuffle", "documents") { (spark, ctx, _) =>
      // Deterministic training-order shuffle with explicit positions
      // (GlobalOrder.withGlobalPosition): salted-md5 rank, reproducible
      // across reruns/retries, computed WITHOUT a SinglePartition window
      // (range repartition + per-partition offsets; plan pinned in
      // PlanSpec). The oracle is the naive global ROW_NUMBER.
      graft.core.GlobalOrder
        .withGlobalPosition(
          ctx.view("documents").select(col("doc_id")),
          Seq(md5(concat(col("doc_id").cast("string"), lit("sh1"))), col("doc_id")))
        .select(col("pos"), col("doc_id"))
        .orderBy("pos")
    }.oracle(
      """SELECT CAST(ROW_NUMBER() OVER (
               ORDER BY MD5(CAST(doc_id AS VARCHAR) || 'sh1'), doc_id) - 1 AS BIGINT) AS pos,
               doc_id
        FROM documents
        ORDER BY pos"""),
  )
}
