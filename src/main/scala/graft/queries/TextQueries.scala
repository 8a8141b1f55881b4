package graft
package queries

import org.apache.spark.sql.functions._
import graft.core.Runner
import QueryDef.{adaptive, fixed}
import Fixtures.{bpeMerges, unigramModel, wordPieceModel}

/** Text operators over `documents`: token and quality statistics,
  * tokenizers, language id, cleaning and relevance scoring. */
private[queries] object TextQueries {
  val all: Seq[QueryDef] = Seq(
    fixed("q24_array_ops", "documents").sql(
      """SELECT doc_id,
               CAST(SIZE(SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
               ARRAY_JOIN(SLICE(SORT_ARRAY(ARRAY_DISTINCT(SPLIT(text, ' '))), 1, 3), ',') AS first3
        FROM documents
        ORDER BY doc_id"""
    ).oracle(
      """SELECT doc_id,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
               ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' ')))[1:3], ',') AS first3
        FROM documents
        ORDER BY doc_id"""),
    fixed("q33_text_token_stats", "documents").sql(
      """SELECT doc_id,
               CAST(LENGTH(text) AS BIGINT) AS n_chars,
               CAST(SIZE(SPLIT(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens,
               CAST(SIZE(ARRAY_DISTINCT(SPLIT(TRIM(text), '\\s+'))) AS BIGINT) AS n_unique
        FROM documents
        ORDER BY doc_id"""
    ).oracle(
      """SELECT doc_id,
               CAST(LENGTH(text) AS BIGINT) AS n_chars,
               CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS BIGINT) AS n_tokens,
               CAST(LEN(LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'))) AS BIGINT) AS n_unique
        FROM documents
        ORDER BY doc_id"""),
    adaptive("q34_text_quality", "documents") { (spark, ctx, _) =>
      ctx.view("documents")
        .select(
          col("doc_id"),
          graft.llm.TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
          graft.llm.TextStats.qualityScore(col("text")).as("quality")
        )
        .orderBy("doc_id")
    }.oracle(
      // Mirrors TextStats.qualityScore feature-by-feature: same tokenizer
      // regexes, same EN stopword list, same penalty arithmetic in DOUBLE
      // (left-associated, literals cast to DOUBLE so DuckDB's decimal
      // literals can't change the accumulation).
      """WITH t AS (
          SELECT doc_id,
                 len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0)) AS n_tokens_ws,
                 list_filter(regexp_split_to_array(lower(trim(text)), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS toks,
                 CAST(length(text) AS DOUBLE) AS chars,
                 CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE) AS alpha,
                 CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) AS punct
          FROM documents),
        f AS (
          SELECT doc_id, n_tokens_ws,
                 CAST(len(toks) AS DOUBLE) AS n_tok,
                 CASE WHEN chars > 0 THEN alpha / chars ELSE 0.0 END AS alpha_ratio,
                 CASE WHEN chars > 0 THEN punct / chars ELSE 0.0 END AS punct_ratio,
                 CAST(len(list_intersect(list_distinct(toks),
                   ['the','and','of','to','in','is','that','it','for','with','was','are'])) AS DOUBLE) AS stop_hits
          FROM t)
        SELECT doc_id,
               CAST(n_tokens_ws AS BIGINT) AS n_tokens,
               round(
                 (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 1.0 WHEN n_tok > 0 THEN 0.5 ELSE 0.0 END) * CAST(0.25 AS DOUBLE)
                 + least(alpha_ratio / CAST(0.7 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.25 AS DOUBLE)
                 + (CASE WHEN punct_ratio <= CAST(0.2 AS DOUBLE) THEN CAST(1.0 AS DOUBLE)
                         ELSE greatest(CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE) - (punct_ratio - CAST(0.2 AS DOUBLE)) * 2) END) * CAST(0.25 AS DOUBLE)
                 + (CASE WHEN stop_hits >= 2 THEN 1.0 WHEN stop_hits >= 1 THEN 0.7 ELSE 0.3 END) * CAST(0.25 AS DOUBLE), 4) AS quality
        FROM f
        ORDER BY doc_id"""),
    fixed("q38_text_langid", "documents") { (spark, ctx, _) =>
      ctx.view("documents")
        .select(col("doc_id"), graft.llm.TextStats.languageId(col("text")).as("lang_guess"))
        .groupBy("lang_guess")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang_guess")
    }.oracle(
      // argmax over per-language stopword hits; ties break to the
      // lexicographically largest language (Spark's array_max over
      // (hits, lang) structs), hence the it→fr→es→en→de CASE order.
      """WITH t AS (
          SELECT doc_id,
                 list_distinct(list_filter(regexp_split_to_array(lower(trim(text)), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS toks
          FROM documents),
        h AS (
          SELECT doc_id,
                 len(list_intersect(toks, ['der','die','das','und','ist','von','nicht','mit','ein','eine','zu','den'])) AS h_de,
                 len(list_intersect(toks, ['the','and','of','to','in','is','that','it','for','with','was','are'])) AS h_en,
                 len(list_intersect(toks, ['el','la','los','las','es','en','que','una','por','con','para','del'])) AS h_es,
                 len(list_intersect(toks, ['le','la','les','et','est','dans','pour','que','une','des','pas','sur'])) AS h_fr,
                 len(list_intersect(toks, ['il','la','che','di','è','per','con','una','sono','non','più','come'])) AS h_it
          FROM t)
        SELECT lang_guess, CAST(COUNT(*) AS BIGINT) AS n
        FROM (
          SELECT CASE WHEN greatest(h_de,h_en,h_es,h_fr,h_it) = 0 THEN 'und'
                      WHEN h_it = greatest(h_de,h_en,h_es,h_fr,h_it) THEN 'it'
                      WHEN h_fr = greatest(h_de,h_en,h_es,h_fr,h_it) THEN 'fr'
                      WHEN h_es = greatest(h_de,h_en,h_es,h_fr,h_it) THEN 'es'
                      WHEN h_en = greatest(h_de,h_en,h_es,h_fr,h_it) THEN 'en'
                      ELSE 'de' END AS lang_guess
          FROM h)
        GROUP BY lang_guess
        ORDER BY lang_guess"""),
    fixed("q44_explode_lateral", "documents").sql(
      """SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents LATERAL VIEW EXPLODE(SPLIT(TRIM(text), '\\s+')) t AS tok
        WHERE doc_id < 20
        GROUP BY doc_id, tok
        ORDER BY doc_id, tok"""
    ).oracle(
      """SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS tok FROM documents) t
        WHERE doc_id < 20
        GROUP BY doc_id, tok
        ORDER BY doc_id, tok"""),
    fixed("q165_bpe_tokenize", "documents") { (spark, ctx, dir) =>
      // Corpus-trained BPE (llm/Bpe): merges learned from the documents'
      // own word-frequency table (one bounded shuffle + driver merge loop),
      // then the native greedy-by-rank tokenizer. The merge sequence is
      // engine-specific → rows-only; self-verifying per row: `ok` = exact
      // reassembly (tokens concatenate to the whitespace-stripped text) ∧
      // token count ≤ character count ∧ (folded global invariant, q157
      // style) the trained merges strictly compress the corpus overall.
      import graft.llm.Bpe
      val docs = ctx.view("documents").select(col("doc_id"), col("text"))
      val merges = bpeMerges(docs, dir)
      val tok = Bpe.tokenized(docs, "text", merges)
        .withColumn("_nospace", regexp_replace(col("text"), "\\s+", ""))
      val compresses = broadcast(
        tok.agg((sum(col("n_bpe_tokens")) <
          sum(length(col("_nospace")).cast("long"))).as("_compresses")))
      tok.crossJoin(compresses)
        .select(col("doc_id"), col("n_bpe_tokens"),
          length(col("_nospace")).cast("long").as("n_chars_nospace"),
          (concat_ws("", col("tokens")) === col("_nospace") &&
            col("n_bpe_tokens") <= length(col("_nospace")).cast("long") &&
            col("_compresses")).as("ok"))
        .orderBy("doc_id")
    }.selfChecked,
    fixed("q174_bpe_ids", "documents") { (spark, ctx, dir) =>
      // Full text->ids tokenizer path (Bpe.vocab + encodeIds): ids decode
      // back through the reverse vocab map to EXACTLY the whitespace-
      // stripped document, with zero OOV against the corpus-trained vocab.
      // Merge training and id assignment are engine-specific -> rows-only;
      // `ok` carries the whole round trip in-band per document.
      import graft.llm.Bpe
      import spark.implicits._
      val docs = ctx.view("documents").select(col("doc_id"), col("text"))
      val merges = bpeMerges(docs, dir)
      // vocab collected once and re-used as a LOCAL frame: encodeIds'
      // collect and the reverse map below would otherwise each re-run the
      // corpus-wide vocab aggregation
      val vRows = Bpe.vocab(docs, "text", merges)
        .select("token", "id", "freq").as[(String, Long, Long)].collect().toSeq
      val v = vRows.toDF("token", "id", "freq")
      // reverse lookup as an ARRAY indexed by the contiguous ids — O(1)
      // per id (element_at on a MAP column linear-scans its keys per
      // lookup, measured dominant at vocab size)
      val revArr = vRows.sortBy(_._2).map(_._1)
      val revDf = Seq(Tuple1(revArr)).toDF("_rarr")
      Bpe.encodeIds(docs, "text", merges, v)
        .crossJoin(broadcast(revDf))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          (col("n_oov") === 0 &&
            concat_ws("", transform(col("ids"),
              // guard: an unexpected -1 (OOV) id must yield ok=false, not
              // a runtime "array indices start at 1" error — element_at
              // evaluates regardless of the n_oov conjunct
              i => when(i >= 0, element_at(col("_rarr"), (i + 1L).cast("int"))))) ===
              regexp_replace(col("text"), "\\s+", "")).as("ok"))
        .orderBy("doc_id")
    }.selfChecked,
    fixed("q177_domain_stats", "documents") { (spark, ctx, _) =>
      // Domain-level crawl analytics (UrlNorm.host/apexDomain): messy URLs
      // with subdomain variants collapse onto hosts and apex domains; per
      // apex: page count, distinct hosts, and exact total n_chars. The
      // regex chain is Java ∩ RE2 → the oracle replicates byte-for-byte.
      import graft.llm.UrlNorm
      val docs = ctx.view("documents")
      val urls = docs.select(
        col("doc_id"), col("n_chars"),
        concat(
          when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("http://")),
          when(col("doc_id") % 5 === 0, lit("cdn."))
            .when(col("doc_id") % 5 === 1, lit("WWW."))
            .when(col("doc_id") % 5 === 2, lit("news.")).otherwise(lit("")),
          col("source"), lit(".Example.COM/p/"), col("doc_id").cast("string")
        ).as("url"))
      urls
        .withColumn("host", UrlNorm.host(col("url")))
        .withColumn("apex", UrlNorm.apexDomain(col("url")))
        .groupBy("apex")
        .agg(count(lit(1)).as("n_pages"),
          count_distinct(col("host")).as("n_hosts"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy("apex")
    }.oracle(
      // same host/apex regex chain in DuckDB; www. strips, cdn./news. stay
      // as subdomains of the same apex
      """WITH u AS (
          SELECT doc_id, n_chars,
                 (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
                 || (CASE WHEN doc_id % 5 = 0 THEN 'cdn.'
                          WHEN doc_id % 5 = 1 THEN 'WWW.'
                          WHEN doc_id % 5 = 2 THEN 'news.' ELSE '' END)
                 || source || '.Example.COM/p/' || CAST(doc_id AS VARCHAR) AS url
          FROM documents),
        h AS (
          SELECT doc_id, n_chars,
                 regexp_replace(lower(regexp_extract(
                   regexp_replace(url, '^https?://', ''), '^[^/?#]*')), '^www\.', '') AS host
          FROM u),
        a AS (
          SELECT doc_id, n_chars, host,
                 regexp_extract(host, '[^.]+\.[^.]+$') AS apex
          FROM h)
        SELECT apex, CAST(COUNT(*) AS BIGINT) AS n_pages,
               CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM a GROUP BY apex ORDER BY apex"""),
    fixed("q178_bpe_byte_fallback", "documents") { (spark, ctx, dir) =>
      // TOTAL text->ids (Bpe.vocabTotal + encodeIdsTotal): every doc is
      // salted with characters ABSENT from the training corpus (emoji,
      // CJK, Greek), so the learned vocab cannot cover it — the byte
      // fallback must (ids 0..255 are raw UTF-8 bytes, learned tokens
      // 256+). Training/id assignment are engine-specific -> rows-only;
      // `ok` carries the whole contract in-band per document: the ids
      // decode back to EXACTLY the whitespace-stripped salted text, the
      // fallback route was actually taken, and n_oov == 0 (structural —
      // encodeIdsTotal cannot produce a -1).
      import graft.llm.Bpe
      import spark.implicits._
      val docs = ctx.view("documents").select(col("doc_id"), col("text"))
      val merges = bpeMerges(docs, dir)
      // vocab is collected by BOTH encodeIdsTotal and decodeIds — pin it as
      // a LOCAL frame (vocab-bounded) so the corpus-wide vocab aggregation
      // runs once, not once per consumer
      val v = Bpe.vocabTotal(docs, "text", merges)
        .select("token", "id", "freq").as[(String, Long, Long)].collect().toSeq
        .toDF("token", "id", "freq")
      val salt = " 😀🌍 漢字テスト κόσμε"
      val salted = docs.withColumn("text2", concat(col("text"), lit(salt)))
      Bpe.encodeIdsTotal(salted, "text2", merges, v)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          col("n_fallback_tokens"),
          (col("n_oov") === 0L &&
            col("n_fallback_tokens") > 0L &&
            Bpe.decodeIds(col("ids"), v) ===
              regexp_replace(col("text2"), "\\s+", "")).as("ok"))
        .orderBy("doc_id")
    }.selfChecked,
    adaptive("q179_langid_ngram", "documents") { (spark, ctx, _) =>
      // Real n-gram language ID (llm/LangId — character-n-gram rank
      // profiles, the public TextCat method) over the 10-language held-out
      // fixture set: sentences the profiles never saw, including the close
      // pairs es/pt/it and de/nl/sv the stopword heuristic cannot
      // separate. Profiles are engine-specific -> rows-only; `ok` per row
      // = the sentence classifies to its true language AND (folded global
      // invariant, q165 style) the REAL documents corpus — English word
      // salad — majority-classifies en, tying the expression to corpus
      // data, not just fixtures.
      import graft.llm.LangId
      import spark.implicits._
      val enFrac = broadcast(ctx.view("documents").agg(
        avg(when(LangId.languageIdNgram(col("text")) === "en", 1.0)
          .otherwise(0.0)).as("_en_frac")))
      val sents = (LangId.heldOutSentences.toSeq.sortBy(_._1)
        .flatMap { case (l, ss) => ss.map(s => (l, s)) } ++
        LangId.scriptExamples.toSeq.sortBy(_._1)) // script-gated languages
        .zipWithIndex.map { case ((l, s), i) => (i.toLong, l, s) }
        .toDF("sent_id", "lang_true", "text")
      sents
        .withColumn("lang_pred", LangId.languageIdNgram(col("text")))
        .crossJoin(enFrac)
        .select(col("sent_id"), col("lang_true"), col("lang_pred"),
          (col("lang_pred") === col("lang_true") &&
            col("_en_frac") >= 0.6).as("ok"))
        .orderBy("sent_id")
    }.selfChecked,
    adaptive("q183_html_extract", "documents") { (spark, ctx, _) =>
      // HTML -> visible text (llm/HtmlText): per-doc synthetic pages wrap
      // the document text with scripts/styles/comments/entities; the
      // documented regex chain (Java ∩ RE2) must strip code blocks, keep
      // title/heading/list text, decode entities one level, and normalize
      // whitespace — byte-for-byte reproducible in DuckDB (the q159 URL
      // discipline: cross-engine regex parity IS the check).
      import graft.llm.HtmlText
      val html = concat(
        lit("<html><head><title>Title</title><style type=\"text/css\">p { color: red; }</style>"),
        lit("<script>if (a < b && c > d) { run(\"x\"); }</script></head><body><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><p>"), col("text"),
        lit("</p><ul><li>A&amp;B</li><li>x &lt; y</li></ul><!-- hidden --></body></html>"))
      ctx.view("documents")
        .select(col("doc_id"), html.as("_html"))
        .select(col("doc_id"),
          HtmlText.extractText(col("_html")).as("text_extracted"))
        .withColumn("n_chars_extracted", length(col("text_extracted")).cast("long"))
        .orderBy("doc_id")
    }.oracle(
      // the identical regex chain in RE2 ('g' = global, matching Spark's
      // always-global regexp_replace); entity decode order preserved so
      // &amp;lt; decodes one level only
      """WITH h AS (
          SELECT doc_id,
                 '<html><head><title>Title</title><style type="text/css">p { color: red; }</style>'
                 || '<script>if (a < b && c > d) { run("x"); }</script></head><body><h1>Doc '
                 || CAST(doc_id AS VARCHAR)
                 || '</h1><p>' || text
                 || '</p><ul><li>A&amp;B</li><li>x &lt; y</li></ul><!-- hidden --></body></html>'
                 AS html
          FROM documents),
        s1 AS (SELECT doc_id, regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
        s2 AS (SELECT doc_id, regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
        s3 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
        s4 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s3),
        e AS (SELECT doc_id,
                replace(replace(replace(replace(replace(replace(replace(t,
                  '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                  '&#39;', ''''), '&apos;', ''''), '&amp;', '&') AS t
              FROM s4)
        SELECT doc_id,
               trim(regexp_replace(t, '\s+', ' ', 'g')) AS text_extracted,
               CAST(len(trim(regexp_replace(t, '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_extracted
        FROM e ORDER BY doc_id"""),
    fixed("q185_tokenizer_fertility", "documents") { (spark, ctx, dir) =>
      // Tokenizer fertility/coverage report (Bpe.fertilityReport): per
      // source, tokens-per-word, bytes-per-token and byte-fallback rate
      // from the TOTAL encoder. A synthetic "_salted" group (emoji/CJK
      // appended) exercises the fallback path next to the clean sources.
      // Vocab/merges are engine-specific -> rows-only; `ok` carries the
      // exact byte-accounting identity in-band per group: the bytes the
      // ids DECODE to equal the stripped text's UTF-8 bytes, fertility
      // >= 1, and the fallback rate is zero exactly on the corpus the
      // vocab was trained on (and strictly positive on the salted group).
      import graft.llm.Bpe
      import spark.implicits._
      val docs = ctx.view("documents").select(col("doc_id"), col("source"), col("text"))
      val merges = bpeMerges(docs.select(col("doc_id"), col("text")), dir)
      val v = Bpe.vocabTotal(docs, "text", merges)
        .select("token", "id", "freq").as[(String, Long, Long)].collect().toSeq
        .toDF("token", "id", "freq")
      val all = docs.select(col("source"), col("text")).unionByName(
        docs.select(lit("_salted").as("source"),
          concat(col("text"), lit(" 😀🌍 漢字")).as("text")))
      val rep = Bpe.fertilityReport(all, "text", "source", merges, v)
      val ident = Bpe.encodeIdsTotal(all, "text", merges, v)
        .select(col("source"),
          octet_length(Bpe.decodeIds(col("ids"), v)).cast("long").as("_db"))
        .groupBy("source").agg(sum(col("_db")).as("_decoded_bytes"))
      rep.join(ident, "source")
        .select(col("source"), col("n_docs"), col("n_words"), col("n_tokens"),
          col("n_fallback_tokens"), col("n_text_bytes"),
          round(col("fertility"), 6).as("fertility"),
          (col("_decoded_bytes") === col("n_text_bytes") &&
            col("n_tokens") >= col("n_words") &&
            col("fertility") >= 1.0 &&
            when(col("source") === "_salted", col("fallback_rate") > 0.0)
              .otherwise(col("fallback_rate") === 0.0)).as("ok"))
        .orderBy("source")
    }.selfChecked,
    fixed("q186_langid_floor") { (spark, ctx, _) =>
      // The calibrated `und` confidence floor, exercised THROUGH the
      // config surface: LangIdTransform(method = "ngramFloored") — the
      // same TextCat profiles as q179, plus the out-of-place cutoff pair
      // (LangId.undAbsCutoff/undRatioCutoff, tools/LangIdCalib). A langid
      // filter's one forbidden failure mode is a confident wrong label on
      // out-of-set text, so `ok` pins BOTH directions per row: every
      // negative (fi/hu/cs sentences with no trained profile, code,
      // letter soup) classifies `und`, and every held-out positive —
      // incl. the close pairs es/pt/it and de/nl/sv and the script-gated
      // languages — still classifies its true language (the floor must
      // not cost recall). Profiles/cutoffs are engine-specific ->
      // rows-only; QueriesSpec enforces the invariant.
      import graft.llm.LangId
      import spark.implicits._
      val negs = LangId.negativeExamples.toSeq.sortBy(_._1)
        .flatMap { case (grp, ss) => ss.map(s => (grp, "und", s)) }
      val poss = (LangId.heldOutSentences.toSeq.sortBy(_._1)
        .flatMap { case (l, ss) => ss.map(s => (l, l, s)) } ++
        LangId.scriptExamples.toSeq.sortBy(_._1).map { case (l, s) => (l, l, s) })
      val fixtures = (negs ++ poss).zipWithIndex
        .map { case ((grp, expect, text), i) => (i.toLong, grp, expect, text) }
        .toDF("sent_id", "grp", "lang_expected", "text")
      fixtures.createOrReplaceTempView("langid_floor_fixtures")
      val out = Runner.run(Seq(graft.transform.LangIdTransform(
        "floor", "langid_floor_fixtures", "langid_floor_labelled",
        textField = "text", method = "ngramFloored")), ctx).get
      out.select(col("sent_id"), col("grp"), col("lang_expected"),
          col("lang_pred"),
          (col("lang_pred") === col("lang_expected")).as("ok"))
        .orderBy("sent_id")
    }.selfChecked,
    adaptive("q187_token_packing", "documents") { (spark, ctx, _) =>
      // Token-ID sequence packing with document boundaries
      // (Packing.packTokenIds): every doc's [BOS] ++ ids ++ [EOS] stream
      // concatenated in (shard, doc_id) order and cut into consecutive
      // 64-token context windows — long docs split across windows, short
      // docs share one, and doc_spans maps every window slice back to its
      // document. Ids here are SYNTHETIC integers (doc_id*10000 + position,
      // one per whitespace token) so the full output — window cuts, span
      // map, fragment id arrays — is integer arithmetic DuckDB reproduces
      // byte-for-byte; the same operator over REAL BPE ids is pinned by
      // PackingSpec's reconstruction property. One row per doc span:
      // frag_ids = ids[span_start, span_end) of the assembled window, so
      // the oracle pins the assembled windows too (spans tile each window).
      // frag_ids is comma-serialized (the q24 precedent): the driver's
      // pandas comparator cannot hash raw array columns.
      val docs = ctx.view("documents")
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), (col("doc_id") % 4).as("shard"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
        .withColumn("ids", transform(sequence(lit(0L), col("n") - 1),
          i => col("doc_id") * 10000 + i))
      graft.llm.Packing
        .packTokenIds(docs, "doc_id", "shard", "doc_id", "ids",
          contextLen = 64, bosId = 1L, eosId = 2L)
        .select(col("shard"), col("seq_id"), col("n_tokens"), col("ids"),
          explode(col("doc_spans")).as("sp"))
        .select(col("shard"), col("seq_id"), col("n_tokens"),
          col("sp.doc_id").as("doc_id"),
          col("sp.start").cast("long").as("span_start"),
          col("sp.end").cast("long").as("span_end"),
          col("sp.doc_start").as("doc_start"),
          array_join(slice(col("ids"), col("sp.start") + 1,
            col("sp.end") - col("sp.start")), ",").as("frag_ids"))
        .orderBy("shard", "seq_id", "span_start")
    }.oracle(
      """WITH docs AS (
          SELECT doc_id, doc_id % 4 AS shard,
                 CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS BIGINT) + 2 AS len
          FROM documents WHERE doc_id < 300
        ), offs AS (
          SELECT doc_id, shard, len,
                 CAST(COALESCE(SUM(len) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
          FROM docs
        ), spans AS (
          SELECT shard, seq_id, doc_id, len,
                 GREATEST(off, seq_id*64) - seq_id*64 AS span_start,
                 LEAST(off + len, (seq_id+1)*64) - seq_id*64 AS span_end,
                 GREATEST(off, seq_id*64) - off AS doc_start,
                 LEAST(off + len, (seq_id+1)*64) - off AS doc_end
          FROM offs, LATERAL (SELECT UNNEST(generate_series(off // 64,
                 (off + len - 1) // 64)) AS seq_id) t
        )
        SELECT shard, seq_id,
               CAST(SUM(span_end - span_start)
                 OVER (PARTITION BY shard, seq_id) AS BIGINT) AS n_tokens,
               doc_id, span_start, span_end, doc_start,
               ARRAY_TO_STRING([CASE WHEN p = 0 THEN CAST(1 AS BIGINT)
                     WHEN p = len - 1 THEN CAST(2 AS BIGINT)
                     ELSE doc_id*10000 + p - 1 END
                FOR p IN range(doc_start, doc_end)], ',') AS frag_ids
        FROM spans
        ORDER BY shard, seq_id, span_start"""),
    fixed("q192_unigram_encode", "documents") { (spark, ctx, dir) =>
      // Unigram-LM tokenizer (llm/Unigram — the SentencePiece unigram
      // model, Kudo 2018): hard-EM trained piece vocabulary + VITERBI
      // encoding, the other half of the subword family next to q165/q174's
      // BPE. Training/id assignment are engine-specific -> rows-only; `ok`
      // carries the contract in-band per document: (1) the ids decode back
      // to EXACTLY the whitespace-stripped salted text — the salt
      // (emoji/CJK/Greek, absent from the Latin-1-ish corpus) forces the
      // byte-fallback route, proving totality; (2) the Viterbi log-prob
      // dominates the greedy longest-match log-prob EXACTLY (both are
      // document-order left folds over one table; IEEE addition is
      // monotone — the per-row optimality witness); (3) folded global
      // invariant, q179 style: on the UNSALTED corpus the trained model
      // compresses — corpus-wide tokens strictly below non-ws code points
      // (per-row would be unfair to the shortest docs, whose fixed salt
      // adds more fallback byte ids than their text can save).
      import graft.llm.Unigram
      val docs = ctx.view("documents").select(col("doc_id"), col("text"))
      val model = unigramModel(docs, dir)
      val comp = broadcast(Unigram.encodeIds(docs, "text", model)
        .agg((sum(col("n_tokens")) <
          sum(length(regexp_replace(col("text"), "\\s+", "")).cast("long")))
          .as("_compresses")))
      val salt = " 😀🌍 漢字テスト κόσμε"
      val salted = docs.withColumn("text2", concat(col("text"), lit(salt)))
      Unigram.encodeDetail(salted, "text2", model)
        .crossJoin(comp)
        .select(col("doc_id"), col("n_tokens"), col("n_fallback_tokens"),
          col("score"), col("greedy_score"),
          (col("n_fallback_tokens") > 0L &&
            col("score") >= col("greedy_score") &&
            col("_compresses") &&
            Unigram.decodeIds(col("ids"), model) ===
              regexp_replace(col("text2"), "\\s+", "")).as("ok"))
        .orderBy("doc_id")
    }.selfChecked,
    fixed("q196_wordpiece_encode", "documents") { (spark, ctx, dir) =>
      // WordPiece tokenizer (llm/WordPiece — Schuster & Nakajima 2012; the
      // BERT tokenizer): likelihood-merge training + greedy
      // longest-match-first encoding with [UNK] collapse, the third
      // production subword family next to q165/q174 (BPE merge ranks) and
      // q192 (unigram Viterbi). Training/id assignment are
      // engine-specific -> rows-only; `ok` carries the word-level contract
      // in-band: (1) decode splits back into EXACTLY the
      // whitespace-normalized input's words, each decoded word
      // byte-identical to its input word OR the [UNK] marker — greedy
      // concatenation must reconstruct whatever it segmented, and word
      // boundaries must survive [UNK]s; (2) the encoder's own n_words
      // equals the normalized split's length (segmentation parity with the
      // engine-independent \s+ definition); (3) n_unk_words == count of
      // id-0 entries (UNK is an ID, not a string); (4) the emoji salt on
      // doc_id%5==0 rows MUST go [UNK] (out-of-alphabet — totality is
      // deliberately NOT provided, the published WordPiece contract); (5)
      // folded global invariant: on the UNSALTED corpus, [UNK] words stay
      // under 5% (the trained alphabet covers its own corpus).
      import graft.llm.WordPiece
      val docs = ctx.view("documents").select(col("doc_id"), col("text"))
      val model = wordPieceModel(docs, dir)
      val cov = broadcast(WordPiece.encodeIds(docs, "text", model)
        .agg((sum(col("n_unk_words")) * 20L < sum(col("n_words"))).as("_covered")))
      val salted = docs.withColumn("text2",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" 😀")))
          .otherwise(col("text")))
      WordPiece.encodeDetail(salted, "text2", model)
        .withColumn("decoded", WordPiece.decodeIds(col("ids"), model))
        .withColumn("_norm", regexp_replace(trim(col("text2")), "\\s+", " "))
        .withColumn("_dw", split(col("decoded"), " "))
        .withColumn("_ww", split(col("_norm"), " "))
        .crossJoin(cov)
        .select(col("doc_id"), col("n_tokens"), col("n_unk_words"), col("n_words"),
          (col("_covered") &&
            size(col("_dw")) === size(col("_ww")) &&
            (col("n_words") === size(col("_ww")).cast("long") ||
              (length(col("_norm")) === 0 && col("n_words") === 0L)) &&
            col("n_unk_words") ===
              size(filter(col("ids"), i => i === 0L)).cast("long") &&
            (col("doc_id") % 5 =!= 0 || col("n_unk_words") >= 1L) &&
            forall(arrays_zip(col("_dw"), col("_ww")),
              x => x.getField("_dw") === x.getField("_ww") ||
                x.getField("_dw") === lit("[UNK]"))).as("ok"))
        .orderBy("doc_id")
    }.selfChecked,
    adaptive("q197_mojibake_repair", "documents") { (spark, ctx, _) =>
      // Mojibake repair under the FULL ORACLE (functions/FixMojibakeExpr —
      // the UTF-8-misread-as-windows-1252/latin-1 inversion of the public
      // ftfy tool, the standard crawl-cleaning step before token counts /
      // dedup keys / langid can be trusted). The corpus is pure ASCII, so
      // a non-ASCII salt is appended to EVERY row, then rows are mangled
      // 2× / 1× / 0× by doc_id — Spark mangles with its own
      // encode/decode(ISO-8859-1) and repairs with the native expression;
      // DuckDB never sees the mangling AT ALL: it asserts the round trip
      // by computing the pristine salted text and the expected pass count
      // arithmetically. Byte-exact across engines because the repair is an
      // exact inversion, not a heuristic. The salt exercises 2-byte
      // sequences (é à ï), 3-byte sequences whose continuation bytes land
      // in the C1 range (— “ ”), and double mangling.
      import graft.functions.FixMojibakeExpr.fix_mojibake
      val salt = " café déjà vu — naïve “quotes”"
      def mangle(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        decode(encode(c, "UTF-8"), "ISO-8859-1")
      val docs = ctx.view("documents")
        .select(col("doc_id"), concat(col("text"), lit(salt)).as("text_s"))
      docs.withColumn("text_in",
          when(col("doc_id") % 3 === 0, mangle(mangle(col("text_s"))))
            .when(col("doc_id") % 3 === 1, mangle(col("text_s")))
            .otherwise(col("text_s")))
        .withColumn("_fx", fix_mojibake(col("text_in")))
        .select(col("doc_id"), col("_fx.fixed").as("fixed"),
          col("_fx.n_passes").cast("long").as("n_passes"))
        .orderBy("doc_id")
    }.oracle(
      // DuckDB never sees the mangling: it asserts the repair's round trip
      // by computing the pristine salted text directly and the pass count
      // arithmetically — the Spark side must invert its own 2×/1×/0×
      // encode/decode mangling byte-for-byte to match
      """SELECT doc_id,
           text || ' café déjà vu — naïve “quotes”' AS fixed,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 2
                     WHEN doc_id % 3 = 1 THEN 1
                     ELSE 0 END AS BIGINT) AS n_passes
         FROM documents ORDER BY doc_id"""),
    fixed("q207_char_entropy", "documents") { (spark, ctx, _) =>
      // Character-entropy quality signal under the FULL ORACLE
      // (functions/CharEntropyExpr): gibberish/binary spill runs HIGH,
      // single-char padding runs LOW, natural language sits in a stable
      // band — a standard prune signal next to q34's length/punct
      // features. The native codegen'd expression sums per code point in
      // FIXED ascending order, so matching DuckDB's unnest-and-aggregate
      // entropy to 6 decimals is safe (the cross-engine spread is
      // ulp-level sum-order noise).
      import graft.functions.CharEntropyExpr.char_entropy
      ctx.view("documents")
        .select(col("doc_id"),
          round(char_entropy(col("text")), 6).as("char_entropy"))
        .orderBy("doc_id")
    }.oracle(
      // the same unnest-and-aggregate entropy, abs() only to normalize
      // the -0.0 a single-distinct-char document's -sum produces
      """SELECT d.doc_id, round(coalesce(abs(e.ent), 0), 6) AS char_entropy
        FROM documents d
        LEFT JOIN (
          SELECT doc_id, -sum(p * ln(p)) AS ent FROM (
            SELECT doc_id,
                   count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY doc_id) AS p
            FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
                  FROM documents)
            GROUP BY doc_id, ch)
          GROUP BY doc_id) e USING (doc_id)
        ORDER BY d.doc_id"""),
    fixed("q208_deflate_quality", "documents") { (spark, ctx, _) =>
      // Compression-ratio quality signal, self-verifying (zlib has no
      // DuckDB counterpart — functions/DeflateRatioExpr, the Gopher-style
      // boilerplate heuristic): `ok` carries the contract in-band per
      // document — (1) for non-tiny docs (≥ 64 chars — below that zlib's
      // ~8-byte wrapper dominates and the ratio exceeds 1 freely) the
      // ratio lands in (0, 1.5]; (2) the SAME text repeated 4× compresses
      // STRICTLY better — asserted only for docs ≤ 32 KB of UTF-8 BYTES
      // (octet_length, not character count — deflate's window is a byte
      // window and multi-byte text is up to 4× its char count), where the
      // window provably sees a whole earlier copy (beyond that the
      // repeats fall outside it and only header/Huffman amortization
      // remains, which is not strict); (3) an independent re-evaluation
      // yields the identical double (zlib determinism at a fixed level).
      import graft.functions.DeflateRatioExpr.deflate_ratio
      ctx.view("documents")
        .select(col("doc_id"), col("text"),
          deflate_ratio(col("text")).as("ratio"),
          deflate_ratio(concat(col("text"), col("text"), col("text"),
            col("text"))).as("ratio4"),
          deflate_ratio(col("text")).as("_ratio_again"))
        .select(col("doc_id"), round(col("ratio"), 6).as("ratio"),
          round(col("ratio4"), 6).as("ratio4"),
          (col("ratio") > 0.0 &&
            (length(col("text")) < 64 || col("ratio") <= 1.5) &&
            col("_ratio_again") === col("ratio") &&
            (length(col("text")) < 8 || octet_length(col("text")) > 32768 ||
              col("ratio4") < col("ratio"))).as("ok"))
        .orderBy("doc_id")
    }.selfChecked,
    adaptive("q151_lm_novelty", "documents") { (spark, ctx, _) =>
      // Bigram LM novelty scoring (llm/LangModel): train counts on the
      // English slice, score every document by exact unseen/rare-bigram
      // statistics — the oracle-safe surface of the CCNet-style perplexity
      // filter (ppl itself involves ln + a cross-partition double sum, so
      // it is spec-tested, not oracle-hashed — the Relevance idf
      // discipline).
      import graft.llm.LangModel
      val docs = ctx.view("documents")
      val train = docs.filter(col("lang") === "en")
      val bg = LangModel.bigramCounts(train, "text")
      val ug = LangModel.unigramCounts(train, "text")
      val v = ug.count()
      LangModel.score(docs, "doc_id", "text", bg, ug, v)
        .select("doc_id", "n_bigrams", "n_unseen", "n_rare", "novelty")
        .orderBy("doc_id")
    }.oracle(
      // same tokenization as the Spark side (lower + split on
      // non-alphanumerics, empties dropped); bigrams via zipped shifted
      // list slices; counts and ratios are integer/exact-IEEE — engine-safe
      """WITH train AS (SELECT text FROM documents WHERE lang = 'en'),
        tb AS (
          SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS bg
          FROM (SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
                FROM train)),
        bgc AS (
          SELECT bg[1] AS w1, bg[2] AS w2, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM tb GROUP BY 1, 2),
        probe AS (
          SELECT doc_id, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS bg
          FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
                FROM documents)),
        j AS (
          SELECT p.doc_id, c.cnt
          FROM probe p LEFT JOIN bgc c ON c.w1 = p.bg[1] AND c.w2 = p.bg[2]),
        agg AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                 CAST(SUM(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
                 CAST(SUM(CASE WHEN COALESCE(cnt, 0) <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
          FROM j GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(a.n_bigrams, 0) AS n_bigrams,
               COALESCE(a.n_unseen, 0) AS n_unseen,
               COALESCE(a.n_rare, 0) AS n_rare,
               CAST(a.n_unseen AS DOUBLE) / a.n_bigrams AS novelty
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id"""),
    fixed("q78_regexp_extract_all", "documents").sql(
      """SELECT doc_id,
               CAST(size(regexp_extract_all(text, '[A-Za-z]+', 0)) AS BIGINT) AS n_words,
               array_join(slice(regexp_extract_all(text, '[0-9]+', 0), 1, 3), ',') AS first_nums
        FROM documents
        WHERE doc_id < 200
        ORDER BY doc_id"""
    ).oracle(
      """SELECT doc_id,
               CAST(LEN(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words,
               COALESCE(ARRAY_TO_STRING(LIST_SLICE(regexp_extract_all(text, '[0-9]+'), 1, 3), ','), '') AS first_nums
        FROM documents
        WHERE doc_id < 200
        ORDER BY doc_id"""),
    fixed("q82_sequence_packing", "documents") { (spark, ctx, _) =>
      // Greedy whole-doc packing into 512-token windows, 8 shards; the oracle
      // replays the same sequential recurrence as a recursive CTE.
      val base = ctx.view("documents")
        .filter(col("doc_id") < 1000)
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
      graft.llm.Packing
        .packGreedy(base, "shard", "doc_id", "toks", 512)
        .select(col("shard"), col("doc_id"), col("toks"), col("pack_id"))
        .orderBy("shard", "doc_id")
    }.oracle(
      """WITH RECURSIVE base AS (
          SELECT doc_id, doc_id % 8 AS shard,
                 CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS BIGINT) AS toks,
                 ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
          FROM documents WHERE doc_id < 1000
        ), packed AS (
          SELECT shard, doc_id, toks, rn, CAST(0 AS BIGINT) AS pack_id, toks AS fill
          FROM base WHERE rn = 1
          UNION ALL
          SELECT b.shard, b.doc_id, b.toks, b.rn,
                 CASE WHEN p.fill + b.toks <= 512 THEN p.pack_id ELSE p.pack_id + 1 END,
                 CASE WHEN p.fill + b.toks <= 512 THEN p.fill + b.toks ELSE b.toks END
          FROM base b JOIN packed p ON b.shard = p.shard AND b.rn = p.rn + 1
        )
        SELECT shard, doc_id, toks, pack_id
        FROM packed ORDER BY shard, doc_id"""),
    fixed("q86_repetition_stats", "documents") { (spark, ctx, _) =>
      // Gopher-style repetition signals (TextStats.repetitionStats): explode →
      // two map-side-combinable aggregations; fractions derived in DOUBLE from
      // BIGINT counts (IEEE-identical across engines).
      graft.llm.TextStats
        .repetitionStats(ctx.view("documents"), "doc_id", "text")
        .orderBy("doc_id")
    }.oracle(
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        c AS (SELECT doc_id, word, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
        a AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS nd,
                     CAST(MAX(cnt) AS BIGINT) AS top
              FROM c GROUP BY 1)
        SELECT doc_id, n AS n_words, CAST(nd AS DOUBLE) / n AS distinct_frac,
               CAST(top AS DOUBLE) / n AS top_word_frac
        FROM a ORDER BY doc_id"""),
    fixed("q89_corpus_report", "documents").sql(
      // The standard pre-training corpus audit: per (source, language) doc
      // counts, size totals and exact length percentiles — one partial-agg
      // shuffle on the group keys; the percentile is the only per-group
      // sort-bound term (same cross-engine parity as q47).
      """SELECT source, lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               PERCENTILE(n_chars, 0.5) AS p50_chars,
               PERCENTILE(n_chars, 0.9) AS p90_chars,
               CAST(SUM(SIZE(SPLIT(TRIM(text), '\\s+'))) AS BIGINT) AS total_tokens
        FROM documents
        GROUP BY source, lang
        ORDER BY source, lang"""
    ).oracle(
      """SELECT source, lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               QUANTILE_CONT(n_chars, 0.5) AS p50_chars,
               QUANTILE_CONT(n_chars, 0.9) AS p90_chars,
               CAST(SUM(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'))) AS BIGINT) AS total_tokens
        FROM documents
        GROUP BY source, lang
        ORDER BY source, lang"""),
    adaptive("q91_tfidf_topk", "documents") { (spark, ctx, _) =>
      // Top-5 TF-IDF terms per document (Relevance.tfIdfTopK, rational idf:
      // (tf·N)/df — every step an exact-rounded IEEE double op, so the score
      // is bit-identical across engines; the log-idf variant is spec-tested
      // instead). nDocs is a corpus constant, counted once up front.
      val docs = ctx.view("documents")
      val n = docs.count()
      graft.llm.Relevance
        .tfIdfTopK(docs, "doc_id", "text", n, k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("doc_id", "rank")
    }.oracle(
      """WITH tc AS (
          SELECT doc_id, g AS term, CAST(COUNT(*) AS BIGINT) AS tf
          FROM (SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS g
                FROM documents)
          GROUP BY doc_id, g
        ), dfreq AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc GROUP BY term
        ), nn AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents
        ), ranked AS (
          SELECT tc.doc_id, tc.term, tc.tf, dfreq.df,
                 CAST(tc.tf AS DOUBLE) * (SELECT n FROM nn) / CAST(dfreq.df AS DOUBLE) AS score,
                 CAST(ROW_NUMBER() OVER (PARTITION BY tc.doc_id
                        ORDER BY CAST(tc.tf AS DOUBLE) * (SELECT n FROM nn) / CAST(dfreq.df AS DOUBLE) DESC,
                                 tc.term) AS BIGINT) AS rank
          FROM tc JOIN dfreq USING (term)
        )
        SELECT doc_id, term, tf, df, score, rank
        FROM ranked WHERE rank <= 5
        ORDER BY doc_id, rank"""),
    fixed("q143_json_roundtrip", "documents").sql(
      // Schema'd JSON round-trip — the TO_JSON(NAMED_STRUCT(...)) display
      // idiom (reference Common.scala:373-377) plus the typed FROM_JSON
      // read-back: serialize a nested struct + array per row, parse it back
      // with an explicit schema, and surface BOTH the wire string and the
      // re-extracted fields. The oracle pins the JSON byte-for-byte (both
      // engines emit compact struct-ordered JSON) and the extraction
      // value-for-value — a daily-hit surface previously covered only by
      // get_json_object (q23). Nullable inputs are COALESCEd on BOTH sides:
      // Spark's TO_JSON drops null fields while DuckDB emits "f":null, so
      // byte parity must not depend on the testdata containing no NULLs.
      """WITH enc AS (
          SELECT doc_id,
                 TO_JSON(NAMED_STRUCT(
                   'id', doc_id, 'lang', COALESCE(lang, ''),
                   'xs', ARRAY(COALESCE(CAST(n_chars AS BIGINT), 0),
                               COALESCE(CAST(n_chars AS BIGINT), 0) + 1),
                   'meta', NAMED_STRUCT('src', COALESCE(source, ''), 'bucket', doc_id % 7))) AS js
          FROM documents),
        dec AS (
          SELECT doc_id, js,
                 FROM_JSON(js,
                   'id BIGINT, lang STRING, xs ARRAY<BIGINT>, meta STRUCT<src: STRING, bucket: BIGINT>') AS p
          FROM enc)
        SELECT doc_id, js, p.id AS rt_id, ELEMENT_AT(p.xs, 2) AS rt_x2,
               p.meta.src AS rt_src, p.meta.bucket AS rt_bucket
        FROM dec ORDER BY doc_id"""
    ).oracle(
      // DuckDB builds the same JSON with struct_pack (compact, struct field
      // order — byte-identical to Spark's TO_JSON) and re-derives the
      // round-tripped fields from the source columns: if Spark's FROM_JSON
      // loses or reshapes anything, the value compare catches it
      """SELECT doc_id,
               CAST(to_json(struct_pack(id := doc_id, lang := COALESCE(lang, ''),
                 xs := [COALESCE(CAST(n_chars AS BIGINT), 0),
                        COALESCE(CAST(n_chars AS BIGINT), 0) + 1],
                 meta := struct_pack(src := COALESCE(source, ''), bucket := doc_id % 7))) AS VARCHAR) AS js,
               doc_id AS rt_id,
               COALESCE(CAST(n_chars AS BIGINT), 0) + 1 AS rt_x2,
               COALESCE(source, '') AS rt_src,
               doc_id % 7 AS rt_bucket
        FROM documents ORDER BY doc_id"""),
    adaptive("q140_pii_redaction", "documents") { (spark, ctx, _) =>
      // PII scrub (llm/Redact): deterministic synthetic PII is appended from
      // doc_id (the corpus itself is clean), then redacted and counted.
      // Pure narrow projection — the oracle reproduces the redaction
      // byte-for-byte because the patterns stay in the Java∩RE2 subset.
      import graft.llm.Redact
      val s = concat(
        col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@example.com or +1 (415) 555-0199 at 10.0."),
        (col("doc_id") % 256).cast("string"),
        lit(".5 via https://ex.com/p/"), col("doc_id").cast("string"))
      ctx.view("documents")
        .withColumn("_s", s)
        .withColumn("_red", Redact.redact(col("_s")))
        .withColumn("_c", Redact.piiCounts(col("_s")))
        .selectExpr("doc_id", "right(_red, 70) AS tail",
          "_c.n_urls AS n_urls", "_c.n_emails AS n_emails",
          "_c.n_phones AS n_phones", "_c.n_ips AS n_ips")
        .orderBy("doc_id")
    }.oracle(
      // same pattern strings as Redact.scala; RE2 'g' flag = Java replaceAll
      """WITH t AS (
          SELECT doc_id,
                 text || ' contact u' || CAST(doc_id AS VARCHAR)
                      || '@example.com or +1 (415) 555-0199 at 10.0.'
                      || CAST(doc_id % 256 AS VARCHAR)
                      || '.5 via https://ex.com/p/' || CAST(doc_id AS VARCHAR) AS s
          FROM documents)
        SELECT doc_id,
               right(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(s, 'https?://[^ \t\n]+', '<URL>', 'g'),
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '\+[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g'),
                   '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
                 70) AS tail,
               CAST(len(regexp_extract_all(s, 'https?://[^ \t\n]+')) AS BIGINT) AS n_urls,
               CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(s, '\+[0-9][0-9 ()-]{6,}[0-9]')) AS BIGINT) AS n_phones,
               CAST(len(regexp_extract_all(s, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ips
        FROM t ORDER BY doc_id"""),
    adaptive("q97_chunking", "documents") { (spark, ctx, _) =>
      // Context-window chunking (Chunking.chunkByTokens): 32-token windows,
      // 8-token overlap — documents become training-window pieces in one
      // narrow map + explode, no shuffle. Window COUNT arithmetic runs in
      // IEEE doubles on both engines (same ceil((n-32)/24) tree).
      graft.llm.Chunking
        .chunkByTokens(ctx.view("documents").select(col("doc_id"), col("text")),
          "text", chunkSize = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_id"), col("n_chunks"),
          col("chunk_tokens"), col("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    }.oracle(
      """WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
          FROM documents
        ), numbered AS (
          SELECT doc_id, t,
                 CAST(CEIL(GREATEST(0, len(t) - 32) / CAST(24 AS DOUBLE)) AS BIGINT) AS last_i
          FROM toks
        ), exploded AS (
          SELECT doc_id, t, last_i, unnest(range(0, last_i + 1)) AS i
          FROM numbered
        )
        SELECT doc_id,
               CAST(i AS BIGINT) AS chunk_id,
               last_i + 1 AS n_chunks,
               CAST(LEAST(len(t) - i * 24, 32) AS BIGINT) AS chunk_tokens,
               array_to_string(list_slice(t, i * 24 + 1, i * 24 + 32), ' ') AS chunk_text
        FROM exploded
        ORDER BY doc_id, chunk_id"""),
    fixed("q100_vocab_topk", "documents") { (spark, ctx, _) =>
      // Corpus vocabulary build (Relevance.vocabulary): global top-50 tokens.
      // One map-side-combined shuffle on token; the sort-limit runs over the
      // distinct-token table only (TakeOrderedAndProject).
      graft.llm.Relevance
        .vocabulary(ctx.view("documents"), "text", 50)
        .select(col("token"), col("n"), col("rank"))
        .orderBy("rank")
    }.oracle(
      """WITH tok AS (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents),
         counts AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok WHERE token <> '' GROUP BY token),
         ranked AS (SELECT token, n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank FROM counts)
         SELECT token, n, rank FROM ranked WHERE rank <= 50 ORDER BY rank"""),
    fixed("q113_token_gini", "documents").sql(
      // Per-source token-distribution diversity via Gini impurity
      // (1 − Σ pᵢ² = 1 − Σcᵢ²/n²) — entropy's rational-arithmetic cousin.
      // Σcᵢ² is summed as an EXACT integer (a float Σpᵢ² would be
      // partition-order-dependent), leaving one IEEE divide at the end —
      // bit-identical across engines and shuffles. The data-mixing signal:
      // low diversity = templated/boilerplate source.
      """WITH tc AS (
           SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
           FROM (SELECT source, explode(split(text, ' ')) AS token FROM documents)
           WHERE token <> '' GROUP BY source, token),
         tot AS (
           SELECT source, SUM(c) AS n, SUM(c * c) AS sum_c2,
                  CAST(COUNT(*) AS BIGINT) AS n_distinct
           FROM tc GROUP BY source)
         SELECT source,
                CAST(n AS BIGINT) AS n_tokens,
                n_distinct,
                1.0 - CAST(sum_c2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS gini_diversity
         FROM tot
         ORDER BY source"""
    ).oracle(
      """WITH tc AS (
           SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
           FROM (SELECT source, UNNEST(string_split(text, ' ')) AS token FROM documents)
           WHERE token <> '' GROUP BY source, token),
         tot AS (
           SELECT source, SUM(c) AS n, SUM(c * c) AS sum_c2,
                  CAST(COUNT(*) AS BIGINT) AS n_distinct
           FROM tc GROUP BY source)
         SELECT source,
                CAST(n AS BIGINT) AS n_tokens,
                n_distinct,
                1.0 - CAST(sum_c2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS gini_diversity
         FROM tot
         ORDER BY source"""),
    adaptive("q116_line_filter", "documents") { (spark, ctx, _) =>
      // C4-style line filtering (LineFilter.clean): keep lines with ≥3 words
      // ending in terminal punctuation, flag code/lorem docs. Pure narrow
      // projection — zero shuffles, scan-speed at 100 TB.
      graft.llm.LineFilter
        .clean(ctx.view("documents"), "doc_id", "text", minWords = 3, minLines = 1)
        .orderBy("doc_id")
    }.oracle(
      """WITH k AS (
          SELECT doc_id, text,
                 string_split(text, chr(10)) AS lines,
                 list_filter(string_split(text, chr(10)),
                   l -> len(list_filter(regexp_split_to_array(trim(l), '\s+'), w -> len(w) > 0)) >= 3
                        AND right(trim(l), 1) IN ('.', '!', '?', '"', '''')
                        AND NOT contains(lower(trim(l)), 'javascript')) AS kept
          FROM documents)
        SELECT doc_id,
               CAST(len(lines) AS INT) AS n_lines,
               CAST(len(kept) AS INT) AS n_kept_lines,
               COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
               (contains(text, '{') OR contains(lower(text), 'lorem ipsum') OR len(kept) < 1) AS drop_doc
        FROM k
        ORDER BY doc_id"""),
    fixed("q118_token_rarity", "documents") { (spark, ctx, _) =>
      // Corpus-frequency rarity profile (Relevance.tokenRarity): the
      // LM-free stand-in for a perplexity filter. Integer sums all the way;
      // one (doc,term) shuffle + one term-keyed frequency join.
      graft.llm.Relevance
        .tokenRarity(ctx.view("documents"), "doc_id", "text", rareThreshold = 2L)
        .orderBy("doc_id")
    }.oracle(
      """WITH tc AS (
          SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
          FROM (SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
                FROM documents)
          GROUP BY doc_id, term),
        cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS c FROM tc GROUP BY term)
        SELECT doc_id,
               CAST(SUM(tf) AS BIGINT) AS n_tokens,
               CAST(SUM(tf * c) AS BIGINT) AS freq_sum,
               CAST(SUM(CASE WHEN c <= 2 THEN tf ELSE 0 END) AS BIGINT) AS n_rare,
               CAST(SUM(CASE WHEN c <= 2 THEN tf ELSE 0 END) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE) AS rare_frac
        FROM tc JOIN cf USING (term)
        GROUP BY doc_id
        ORDER BY doc_id"""),
    fixed("q132_unicode_normalize", "documents") { (spark, ctx, _) =>
      // Native unicode_normalize (UnicodeNormalizeExpr — Spark has no
      // built-in): every doc gets a DECOMPOSED suffix (e + combining acute,
      // 2 code points) that NFC composes to é (1 code point) — n_nfc is
      // exactly n_raw − 1 and the composed tail must read 'café' on both
      // engines. Oracle: DuckDB nfc_normalize.
      import graft.functions.UnicodeNormalizeExpr.unicode_normalize
      val suffixed = concat(col("text"), lit(" café"))
      ctx.view("documents")
        .select(
          col("doc_id"),
          length(suffixed).cast("long").as("n_raw"),
          length(unicode_normalize(suffixed)).cast("long").as("n_nfc"),
          substring(unicode_normalize(suffixed), -4, 4).as("tail"))
        .orderBy("doc_id")
    }.oracle(
      """SELECT doc_id,
               CAST(length(text || ' café') AS BIGINT) AS n_raw,
               CAST(length(nfc_normalize(text || ' café')) AS BIGINT) AS n_nfc,
               right(nfc_normalize(text || ' café'), 4) AS tail
        FROM documents ORDER BY doc_id"""),
    adaptive("q125_bm25", "documents") { (spark, ctx, _) =>
      // BM25 scoring against a fixed query-term set (Relevance.bm25,
      // rational idf n/df — every step an exact-rounded IEEE double op).
      // Contributions fold in term-lexicographic order, so the doc score is
      // bit-identical across engines AND across Spark reruns; corpus
      // constants (n, avgdl) are counted once up front like q91's.
      val docs = ctx.view("documents")
      val n = docs.count()
      val tc = graft.llm.Relevance.termCounts(docs, "doc_id", "text")
      val totalTokens = tc.agg(sum(col("tf"))).head().getLong(0)
      graft.llm.Relevance
        .bm25(docs, "doc_id", "text",
          Seq("query", "scan", "spark", "window"),
          nDocs = n, avgdl = totalTokens.toDouble / n.toDouble)
        .orderBy("doc_id")
    }.oracle(
      // expression structure mirrors Relevance.bm25 exactly — same IEEE op
      // sequence ((n/df) * (tf*(k1+1))) / (tf + k1*((1-b) + (b*dl)/avgdl)),
      // contributions folded in term order (list ORDER BY term, left fold;
      // the Spark side seeds at 0.0 — adding 0.0 to a positive double is
      // exact, so the folds agree bitwise)
      """WITH tc AS (
          SELECT doc_id, g AS term, CAST(COUNT(*) AS BIGINT) AS tf
          FROM (SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS g
                FROM documents)
          GROUP BY doc_id, g
        ), dl AS (
          SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tc GROUP BY doc_id
        ), dfreq AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc GROUP BY term
        ), consts AS (
          SELECT CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS n,
                 CAST((SELECT SUM(tf) FROM tc) AS DOUBLE)
                   / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl
        ), contrib AS (
          SELECT tc.doc_id, tc.term,
                 ((SELECT n FROM consts) / CAST(dfreq.df AS DOUBLE))
                   * (CAST(tc.tf AS DOUBLE) * (1.2 + 1.0))
                   / (CAST(tc.tf AS DOUBLE)
                      + 1.2 * ((1.0 - 0.75)
                               + (0.75 * CAST(dl.dl AS DOUBLE)) / (SELECT avgdl FROM consts))) AS c
          FROM tc JOIN dfreq USING (term) JOIN dl USING (doc_id)
          WHERE tc.term IN ('query', 'scan', 'spark', 'window')
        )
        SELECT doc_id, list_reduce(list(c ORDER BY term), (a, b) -> a + b) AS bm25
        FROM contrib GROUP BY doc_id ORDER BY doc_id"""),
  )
}
