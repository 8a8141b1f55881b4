package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import QueryDef.{adaptive, fixed}
import Fixtures.freshStores

/** Persisted stores: ingest, probe and takedown batteries over the
  * minhash, sem, span, IVF, word-count and naive-Bayes stores. */
private[queries] object StoreQueries {
  val all: Seq[QueryDef] = Seq(
    fixed("q190_span_index_ingest", "documents") { (spark, ctx, _) =>
      // INCREMENTAL span dedup under the ORACLE: the q180 corpus (every
      // third doc salted with the shared boilerplate paragraph) split into
      // a base (doc_id < 30, indexed by SpanIndex.write) and a batch
      // (ingested against the persisted gram index), md5 gram keys. The
      // one-shot-equivalence contract means DuckDB's plain one-shot span
      // dedup over the UNION corpus must reproduce the write+ingest rows
      // byte-for-byte — clean_text, token and span counts — putting the
      // incremental path itself (bloom membership, bucket-pruned
      // verification, append) under the cross-engine gate, not just its
      // spec. Fresh temp dir per evaluation: re-evaluation (Bench
      // min-of-2) rebuilds rather than tripping the watermark.
      import graft.llm.SpanIndex
      val para = "subscribe to our newsletter for updates terms of service apply"
      val docs = ctx.view("documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(lit(para), lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_q190_spanidx_").toString + "/idx"
      val baseOut = SpanIndex.write(docs.filter(col("doc_id") < 30),
        "doc_id", "text", dir, k = 8, hashMode = "md5", nbuckets = 8)
      val batchOut = SpanIndex.ingest(docs.filter(col("doc_id") >= 30),
        "doc_id", "text", dir)
      baseOut.unionByName(batchOut).orderBy("doc_id")
    }.oracle(
      // the one-shot-equivalence contract IS the oracle: a plain one-shot
      // span dedup over the union corpus (identical SQL to q180) must
      // reproduce the incremental write+ingest rows byte-for-byte
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
    adaptive("q191_minhash_index_ingest", "documents") { (spark, ctx, sfDir) =>
      // MinHash index APPEND-ingest, self-verifying end to end: index the
      // base corpus, then ingest (1) a batch mixing verbatim copies of
      // base docs (must die through the exact tier — probability 1, no
      // LSH luck involved) with fully-synthetic unique-token docs (must
      // survive AND join the index), then (2) a second batch of verbatim
      // copies of the FIRST batch's survivors — which die only if the
      // ingest actually appended them (the gap this operator closes:
      // batches deduping against each other, not a stale corpus). All
      // exact-fingerprint decisions -> deterministic; `ok` pins
      // kept == expected per row.
      import graft.llm.MinhashIndex
      val base = ctx.view("documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      // base-index fixture cached per (JVM, sfDir); each run ingests into
      // its own pristine copy (ingest mutates — see freshStores)
      val dir = freshStores("q191", sfDir) { d =>
        MinhashIndex.write(base, "doc_id", "text", s"$d/idx")
      } + "/idx"
      val copies1 = base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000L).as("doc_id"), col("text"),
          lit(false).as("expect_kept"))
      val uniq1 = base.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 2000L).as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(11)),
            i => concat(lit("uq"), col("doc_id"), lit("x"), i))).as("text"),
          lit(true).as("expect_kept"))
      val batch1 = copies1.unionByName(uniq1)
      val s1 = MinhashIndex.ingest(batch1.drop("expect_kept"),
        "doc_id", "text", dir).select(col("doc_id").as("_kid"))
      val batch2 = uniq1.select((col("doc_id") + 10000L).as("doc_id"),
        col("text"), lit(false).as("expect_kept"))
      val s2 = MinhashIndex.ingest(batch2.drop("expect_kept"),
        "doc_id", "text", dir).select(col("doc_id").as("_kid"))
      batch1.unionByName(batch2)
        .join(s1.unionByName(s2), col("doc_id") === col("_kid"), "left")
        .select(col("doc_id"), col("expect_kept"),
          col("_kid").isNotNull.as("kept"),
          (col("_kid").isNotNull === col("expect_kept")).as("ok"))
        .orderBy("doc_id")
    }.selfChecked,
    adaptive("q202_index_takedown", "documents") { (spark, ctx, sfDir) =>
      // Index takedown DELETE, self-verifying — the lifecycle step after
      // q191's ingest: write the base corpus, verify copies of two
      // disjoint id groups die against the live index, take group A down
      // (MinhashIndex.delete — crash-safe staged partition rewrite), then
      // probe BOTH groups again: copies of deleted docs must now SURVIVE
      // (LSH + exact + shingle tiers all stopped seeing them) while
      // copies of retained docs still die. Exact-fingerprint decisions →
      // deterministic; `ok` pins kept == expected per probe, before and
      // after, and the watermark stays consumed (deleted ids are not
      // reusable — checked via the in-band tripwire flag).
      import graft.llm.MinhashIndex
      // unique-token texts (the q191 discipline): every doc is orthogonal
      // to every other, so a probe copy can match ONLY its source — the
      // survive/die expectations depend on the takedown alone, never on
      // incidental near-dups inside the natural corpus
      // 120 docs: enough for ~18 victims and ~34 probes per pass while
      // keeping the staged-rewrite job count (the real battery cost —
      // fixed, data-independent) as low as the coverage allows
      val base = ctx.view("documents").filter(col("doc_id") < 120)
        .select(col("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(11)),
            i => concat(lit("tk"), col("doc_id"), lit("x"), i))).as("text"))
      // index fixture cached per (JVM, sfDir); the takedown below rewrites
      // this run's pristine copy only
      val dir = freshStores("q202", sfDir) { d =>
        MinhashIndex.write(base, "doc_id", "text", s"$d/idx")
      } + "/idx"
      def probes(tag: Long) = base
        .filter((col("doc_id") % 7).isin(0, 3))
        .select((col("doc_id") + tag).as("doc_id"), col("text"),
          (col("doc_id") % 7).as("_grp"))
      // pass 1: every copy dies against the live index. PINNED before the
      // takedown — the probe plan reads the index files, and the delete
      // below rewrites them; an unpinned pass-1 would lazily execute
      // after the files are gone
      val kept1 = MinhashIndex.dedupAgainst(probes(1000L).drop("_grp"),
        "doc_id", "text", dir).select(col("doc_id").as("_kid"))
      val pass1 = graft.core.Lineage.pin(probes(1000L)
        .join(kept1, col("doc_id") === col("_kid"), "left")
        .select(col("doc_id"), lit(1).as("pass"),
          lit(false).as("expect_kept"), col("_kid").isNotNull.as("kept")))
      // takedown: group 0 (doc_id % 7 == 0) leaves the index
      val victims = base.filter(col("doc_id") % 7 === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      MinhashIndex.delete(spark, dir, victims)
      // the watermark did not move back: a deleted id is still consumed
      val reuseRefused =
        try { MinhashIndex.ingest(base.filter(col("doc_id") === victims.head)
            .select(col("doc_id"), col("text")), "doc_id", "text", dir)
          false
        } catch { case e: IllegalArgumentException =>
          e.getMessage.contains("strictly above") }
      // the completed takedown left its evidence: one audit record per
      // table (bands/shingles/exact), each naming this run's id count
      val logOk = MinhashIndex.takedownLog(spark, dir)
        .filter(col("nIds") === victims.length).count() == 3L
      // pass 2: group-0 copies survive, group-3 copies still die
      val kept2 = MinhashIndex.dedupAgainst(probes(5000L).drop("_grp"),
        "doc_id", "text", dir).select(col("doc_id").as("_kid"))
      val pass2 = probes(5000L)
        .join(kept2, col("doc_id") === col("_kid"), "left")
        .select(col("doc_id"), lit(2).as("pass"),
          (col("_grp") === 0).as("expect_kept"), col("_kid").isNotNull.as("kept"))
      pass1.unionByName(pass2)
        .select(col("doc_id"), col("pass"), col("expect_kept"), col("kept"),
          (col("kept") === col("expect_kept") && lit(reuseRefused && logOk)).as("ok"))
        .orderBy("pass", "doc_id")
    }.selfChecked,
    fixed("q205_vector_takedown", "embeddings") { (spark, ctx, sfDir) =>
      // Vector-index takedown on the RETRIEVAL path, self-verifying —
      // q202's die-before/survive-after discipline for the embedding
      // tiers: after IvfIndex.delete a victim vector must VANISH from
      // top-k RESULTS (flat + PQ probed exhaustively, so absence is
      // structural, not recall luck — the two tiers cover both the
      // raw-vector and coded read paths; SQ8 shares the PQ shortlist
      // machinery and the same vector table, so probing it adds battery
      // cost without adding a codepath)
      // and after SemIndex.delete a verbatim COPY of it must survive
      // dedup, while retained vectors keep self-hitting / killing copies.
      // Deletes go through the DataFrame-native overloads — the id view
      // never collects to the driver. `ok` also folds in the removed-row
      // counts matching the victim count exactly.
      import graft.llm.{IvfIndex, SemIndex}
      val em = ctx.view("embeddings").filter(col("vec_id") < 200)
        .select(col("vec_id"), col("embedding"))
      // both vector stores cached per (JVM, sfDir); the deletes below
      // rewrite this run's pristine copies only
      val base = freshStores("q205", sfDir) { d =>
        IvfIndex.write(em, "vec_id", "embedding", s"$d/ivf", nlist = 4,
          pqSubspaces = 4)
        SemIndex.write(em, "vec_id", "embedding", s"$d/sem", nclusters = 4,
          tau = 0.999)
      }
      val ivfDir = s"$base/ivf"; val semDir = s"$base/sem"
      val victims = em.filter(col("vec_id") % 7 === 0)
      val nVictims = victims.count()
      val queries = em.filter((col("vec_id") % 7).isin(0, 3))
      // IVF legs: a query vector IS a corpus vector, so its own id must
      // appear among its exhaustive-probe neighbors (cosine 1.0) exactly
      // while it is indexed
      def ivfLeg(pass: Int, tier: String) = {
        val hits = tier match {
          case "flat" => IvfIndex.topK(queries, "vec_id", "embedding", ivfDir,
            k = 3, nprobe = 4)
          case _ => IvfIndex.topKPq(queries, "vec_id", "embedding", ivfDir,
            k = 3, nprobe = 4, shortlistFactor = 400)
        }
        queries.select(col("vec_id"))
          .join(hits.filter(col("query_id") === col("neighbor_id"))
            .select(col("query_id").as("vec_id"), lit(1).as("_hit")),
            Seq("vec_id"), "left")
          .select(col("vec_id"), lit(pass).as("pass"), lit(s"ivf_$tier").as("tier"),
            col("_hit").isNotNull.as("found"))
      }
      // Sem leg: a verbatim copy (fresh id) of an INDEXED vector dies in
      // dedup (cosine 1.0 ≥ tau); "found" = the index still knows it
      def semFound(pass: Int) = {
        val probes = queries.select((col("vec_id") + 10000L).as("vec_id"),
          col("embedding"))
        val kept = SemIndex.dedupAgainst(probes, "vec_id", "embedding", semDir)
          .select(col("vec_id").as("_kid"))
        probes.join(kept, col("vec_id") === col("_kid"), "left")
          .select((col("vec_id") - 10000L).as("vec_id"), lit(pass).as("pass"),
            lit("sem").as("tier"), col("_kid").isNull.as("found"))
      }
      // Building the three legs runs eager driver actions per leg
      // (centroid/codebook reads, probed-list collects, assignment
      // collects) — construct them concurrently (guide §2.6) so those
      // tiny jobs overlap; the frames and their union are unchanged
      def legsOf(pass: Int): DataFrame = graft.core.Par.all(Seq(
          () => ivfLeg(pass, "flat"), () => ivfLeg(pass, "pq"),
          () => semFound(pass)))
        .reduce(_ unionByName _)
      // pass 1 PINNED before the takedown rewrites the index files
      val pass1 = graft.core.Lineage.pin(legsOf(1))
      // the two deletes are independent single-writer stores — concurrent,
      // like Takedown.run's index fan-out
      val Seq(removedIvf, removedSem) = graft.core.Par.all(Seq(
        () => IvfIndex.delete(spark, ivfDir, victims.select("vec_id")).total,
        () => SemIndex.delete(spark, semDir, victims.select("vec_id")).total))
      val deletesOk = removedIvf == nVictims && removedSem == nVictims
      val pass2 = legsOf(2)
      pass1.unionByName(pass2)
        .withColumn("expect_found",
          col("pass") === 1 || col("vec_id") % 7 === 3)
        .select(col("vec_id"), col("pass"), col("tier"), col("expect_found"),
          col("found"),
          (col("found") === col("expect_found") && lit(deletesOk)).as("ok"))
        .orderBy("pass", "tier", "vec_id")
    }.selfChecked,
    fixed("q210_takedown_orchestrated", "documents", "embeddings") { (spark, ctx, sfDir) =>
      // ONE legal request, EVERY store, self-verifying — llm/Takedown.run
      // composing the six individually-proven primitives (q202/q203/q204/
      // q205 cover them store-by-store; this pins the ORCHESTRATION): all
      // six stores are built from one corpus, one id view takes the
      // victims down through a single call, and `ok` pins per store that
      // (1) the consolidated view reports the removal, (2) the
      // request-level audit trail holds a matching record under the
      // shared request id, (3) the store is structurally clean of every
      // victim id while retaining the kept ids, and (4) the count stores
      // are BYTE-FOR-BYTE the never-saw-the-victims state (the exact
      // subtraction contract, via the in-engine ids→text corpus join a
      // real legal queue needs). A forgotten store — the silent
      // non-compliance mode a hand-assembled takedown risks — would
      // surface as a missing row here.
      import graft.llm.{Bpe, IvfIndex, MinhashIndex, NaiveBayes, SemIndex,
        SpanIndex, Takedown, WordCounts}
      val corpus = graft.core.Lineage.pin(
        ctx.view("documents").filter(col("doc_id") < 120)
          .select(col("doc_id"), col("text"),
            concat(lit("c"), pmod(col("doc_id"), lit(3))).as("label"))
          .join(ctx.view("embeddings").select(col("vec_id").as("doc_id"),
            col("embedding")), Seq("doc_id")))
      // all six stores cached per (JVM, sfDir) and handed out as a
      // PRISTINE copy per run — the orchestrated takedown needs stores
      // that never saw a prior request, and gets them without rebuilding
      // six stores from scratch on every invocation. Small partition
      // counts keep the staged-rewrite job count (the battery cost —
      // fixed, data-independent) proportional to the coverage, not the
      // defaults.
      val base = freshStores("q210", sfDir) { d =>
        MinhashIndex.write(corpus, "doc_id", "text", s"$d/mh", bands = 4)
        SpanIndex.write(corpus, "doc_id", "text", s"$d/span", k = 8,
          hashMode = "xxhash64", nbuckets = 8, bloomBits = 1L << 18,
          bloomHashes = 3)
        SemIndex.write(corpus, "doc_id", "embedding", s"$d/sem", nclusters = 4)
        IvfIndex.write(corpus, "doc_id", "embedding", s"$d/ivf", nlist = 4)
        WordCounts.write(corpus, "text", s"$d/wc")
        NaiveBayes.write(NaiveBayes.train(corpus, "text", "label"), s"$d/nb")
      }
      val (mDir, spDir, seDir, ivDir, wcDir, nbDir, auDir) =
        (s"$base/mh", s"$base/span", s"$base/sem", s"$base/ivf",
          s"$base/wc", s"$base/nb", s"$base/audit")
      val idView = corpus.filter(col("doc_id") % 5 === 2).select("doc_id")
      // ONE collect carries both the victim list and its count (the list
      // is takedown-sized — the r18-audited bounded collect)
      val victimIds = idView.collect().map(_.getLong(0)).toSeq
      val nVictims = victimIds.length.toLong
      val report = Takedown.run(spark, idView,
        minhashURI = mDir, spanURI = spDir, semURI = seDir, ivfURI = ivDir,
        countsURI = wcDir, modelURI = nbDir,
        corpus = Some(corpus), corpusIdCol = "doc_id",
        textCol = "text", labelCol = "label", auditURI = auDir)
      // structural per-store checks: every victim gone, at least one kept
      // id still present (takedown must not have emptied the store) —
      // ONE aggregate per table, not two counts
      def clean(path: String, idCol: String): Boolean = {
        val r = spark.read.parquet(path).agg(
          sum(when(col(idCol).isin(victimIds.map(java.lang.Long.valueOf): _*),
            1L).otherwise(0L)).as("v"),
          sum(when(col(idCol) % 5 =!= 2, 1L).otherwise(0L)).as("k")).head()
        r.getLong(0) == 0L && r.getLong(1) > 0L
      }
      // count stores: byte-for-byte the never-saw state. exceptAll BOTH
      // ways unioned = ONE job per table pair instead of two (identical
      // boolean — the union is empty iff both sides are)
      val kept = corpus.filter(col("doc_id") % 5 =!= 2)
      def sameTable(a: DataFrame, b: DataFrame): Boolean =
        a.exceptAll(b).unionAll(b.exceptAll(a)).isEmpty
      val nbNow = NaiveBayes.read(spark, nbDir)
      val nbWant = NaiveBayes.train(kept, "text", "label")
      // the ten verification aggregates are independent read-only jobs
      // over different tables — run them concurrently (guide §2.6) so the
      // battery's tail is bounded by the slowest check, not their sum;
      // each boolean is computed exactly as in the sequential form
      val legs: Seq[(String, () => Boolean)] = Seq(
        "mh_bands" -> (() => clean(s"$mDir/bands", "_id")),
        "mh_shingles" -> (() => clean(s"$mDir/shingles", "_id")),
        "mh_exact" -> (() => clean(s"$mDir/exact", "_id")),
        "span" -> (() => clean(s"$spDir/grams", "keeper")),
        "sem" -> (() => clean(s"$seDir/vectors", "id")),
        "ivf" -> (() => clean(s"$ivDir/vectors", "id")),
        "wc" -> (() => sameTable(WordCounts.read(spark, wcDir),
          Bpe.wordCounts(kept, "text"))),
        "nb_tok" -> (() => sameTable(nbNow.tokenTable, nbWant.tokenTable)),
        "nb_cls" -> (() => sameTable(nbNow.classTable, nbWant.classTable)))
      val ok = legs.map(_._1).zip(graft.core.Par.all(legs.map(_._2))).toMap
      val checks = Seq(
        ("minhash", ok("mh_bands") && ok("mh_shingles") && ok("mh_exact")),
        ("span", ok("span")),
        ("sem", ok("sem")),
        ("ivf", ok("ivf")),
        ("wordcounts", ok("wc")),
        ("classifier", ok("nb_tok") && ok("nb_cls")))
      import spark.implicits._
      val checksDf = checks.toDF("store_type", "_clean")
      val logDf = Takedown.consolidatedLog(spark, auDir)
        .select(col("store_type"), col("rows_removed").as("_log_removed"),
          col("request_id").as("_log_req"))
      report.join(broadcast(checksDf), Seq("store_type"))
        .join(logDf, Seq("store_type"), "left")
        .select(col("store_type"), col("n_ids"), col("rows_removed"),
          (col("_clean") && col("_log_removed") === col("rows_removed") &&
            col("_log_req") === col("request_id") &&
            col("n_ids") === lit(nVictims) && col("rows_removed") > 0).as("ok"))
        .orderBy("store_type")
    }.selfChecked,
    fixed("q201_wordcounts_ingest", "documents") { (spark, ctx, _) =>
      // Persistent word-count table under the FULL ORACLE
      // (llm/WordCounts): the trainable state all three tokenizers consume,
      // kept warm by exact count addition. The engine writes batch A
      // (even doc_ids), ingests batch B (odd doc_ids) — never re-reading
      // A's text — and outputs the resulting table (cnt ≥ 5 to bound
      // rows); DuckDB counts ONCE over the whole corpus: byte-for-byte
      // equality pins write+ingest ≡ one-shot cross-engine, the same
      // incremental contract as q190/q198 for the tokenizer tier.
      import graft.llm.WordCounts
      val docs = ctx.view("documents")
      val path = java.nio.file.Files
        .createTempDirectory("graft_q201_wc_").toString + "/wc"
      WordCounts.write(docs.filter(col("doc_id") % 2 === 0), "text", path)
      WordCounts.ingest(docs.filter(col("doc_id") % 2 === 1), "text", path)
      WordCounts.read(spark, path)
        .filter(col("cnt") >= 5)
        .select(col("word"), col("cnt"))
        .orderBy("word")
    }.oracle(
      // ONE count over the whole corpus — the engine built the same table
      // incrementally (write evens + ingest odds, A's text never re-read)
      """SELECT token AS word, count(*) AS cnt
        FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                t -> len(t) > 0)) AS token
              FROM documents)
        GROUP BY 1 HAVING count(*) >= 5
        ORDER BY word"""),
    fixed("q203_wordcounts_delete", "documents") { (spark, ctx, _) =>
      // Count-store takedown under the FULL ORACLE (llm/WordCounts.delete)
      // — the inverse of q201's ingest, completing right-to-be-forgotten
      // for the trainable state: the engine writes batch A (even doc_ids),
      // ingests batch B (odd doc_ids), then DELETES batch B by exact
      // integer count subtraction — never re-reading A's text — and
      // outputs the resulting table. DuckDB counts ONCE over batch A
      // alone: byte-for-byte equality pins delete(B) ∘ ingest(B) ≡
      // identity cross-engine, including zero-count rows being DROPPED
      // (a B-only word surviving as cnt=0 would break the row match).
      import graft.llm.WordCounts
      val docs = ctx.view("documents")
      val path = java.nio.file.Files
        .createTempDirectory("graft_q203_wcd_").toString + "/wc"
      WordCounts.write(docs.filter(col("doc_id") % 2 === 0), "text", path)
      WordCounts.ingest(docs.filter(col("doc_id") % 2 === 1), "text", path)
      WordCounts.delete(docs.filter(col("doc_id") % 2 === 1), "text", path)
      WordCounts.read(spark, path)
        .filter(col("cnt") >= 3)
        .select(col("word"), col("cnt"))
        .orderBy("word")
    }.oracle(
      // ONE count over batch A alone — the engine wrote A, ingested B,
      // then deleted B by exact count subtraction; DuckDB never sees B
      """SELECT token AS word, count(*) AS cnt
        FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                t -> len(t) > 0)) AS token
              FROM documents WHERE doc_id % 2 = 0)
        GROUP BY 1 HAVING count(*) >= 3
        ORDER BY word"""),
    adaptive("q204_nb_unlearn", "documents") { (spark, ctx, sfDir) =>
      // Classifier takedown under the FULL ORACLE (llm/NaiveBayes.unlearn)
      // — the inverse of q198's ingest: the engine persists
      // train(A ∪ B), unlearns batch B through the on-disk model by exact
      // count subtraction, and predicts the corpus with what remains. The
      // oracle trains ONCE over batch A alone (q198's SQL, train set
      // restricted) — passing byte-for-byte pins
      // unlearn(train(A ∪ B), B) ≡ train(A) cross-engine, predictions
      // included: the model provably no longer remembers B.
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
      // train(A ∪ B) + write is the FIXTURE; unlearn (the on-disk count
      // subtraction) is the operation under test and MUTATES the store —
      // the q191/q202/q205/q210 freshStores discipline (build once per
      // (JVM, sfDir), hand each run a pristine copy; training is
      // deterministic so results are unchanged)
      val path = freshStores("q204", sfDir) { d =>
        NaiveBayes.write(
          NaiveBayes.train(batchA.unionByName(batchB), "text2", "label_true"),
          s"$d/model")
      } + "/model"
      val unlearned = NaiveBayes.unlearn(batchB, "text2", "label_true", path)
      val pred = NaiveBayes.predict(base, "doc_id", "text2", unlearned)
      base.select(col("doc_id"), col("label_true"))
        .join(pred, Seq("doc_id"))
        .select(col("doc_id"), col("label_true"), col("label_pred"),
          col("n_tokens"))
        .orderBy("doc_id")
    }.oracle(
      // q198's NB SQL with the train set restricted to batch A — the
      // engine trained on A ∪ B and UNLEARNED B from the persisted model;
      // matching predictions pin unlearn(train(A ∪ B), B) ≡ train(A)
      """WITH base AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN 'promo' ELSE 'clean' END AS label_true,
                 text || CASE WHEN doc_id % 3 = 0
                     THEN ' subscribe now limited offer click here'
                     ELSE ' method results analysis discussion further' END AS text2
          FROM documents),
        train AS (SELECT * FROM base WHERE doc_id % 5 IN (1, 2)),
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
  )
}
