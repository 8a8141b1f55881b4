package graft.tools

import org.apache.spark.sql.functions._
import graft.core.Sessions

/** One-off scale probe: synthetic corpus with heavy template duplication
  * (the boilerplate-rich shape that breaks uncapped LSH), far above the
  * driver's sf0.1. Measures minhash dedup, simhash pairs, and CC end-to-end.
  * Usage: runMain graft.tools.ScaleProbe [nDocs] [labelSubstring]
  * (the optional second arg runs only probes whose label contains it)
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 400000
    val labelFilter = if (args.length > 1) args(1) else ""
    val spark = Sessions.local("32", "ERROR", "spark.sql.adaptive.enabled" -> "true")
    // 100 templates × small per-doc mutation; ~25% of docs share one hot
    // template (the hot-bucket case), plus a long tail.
    val docs = spark.range(0, n).select(
      col("id"),
      concat(
        lit("the quick brown fox jumps over the lazy dog near the river bank "),
        when(pmod(col("id"), lit(4)) === 0, lit("hot template shared by a quarter of the corpus "))
          .otherwise(concat(lit("template "), pmod(col("id"), lit(100)).cast("string"), lit(" "))),
        lit("with suffix token "), pmod(col("id"), lit(17)).cast("string")
      ).as("text")
    )
    def time[T](label: String)(f: => T): Unit = {
      if (!label.contains(labelFilter)) return
      // Isolate probes: drop cached blocks and let the heap settle so a
      // later probe isn't taxed by its predecessors' GC debt (observed 15×
      // inflation on the last probes of a long battery without this).
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $label: ${(System.nanoTime() - t0) / 1e9}%.1fs ($r)")
    }
    time(s"minhashDedup n=$n")(
      graft.llm.Dedup.minhashDedup(docs, "id", "text", shingleLen = 3).count())
    time(s"simhashPairs n=$n maxDistance=3")(
      graft.llm.Dedup.simhashPairs(docs, "id", "text", maxDistance = 3).count())
    time(s"cc over fingerprint stars n=$n") {
      val fp = docs.withColumn("_fp", xxhash64(col("text")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("_fp")
      val pairs = fp.withColumn("_m", min(col("id")).over(w))
        .filter(col("id") =!= col("_m"))
        .select(col("_m").as("idA"), col("id").as("idB"))
      graft.llm.Dedup.connectedComponents(pairs).count()
    }
    // Range join under interval-length skew: 99% of intervals span ~1 bucket,
    // 1% span ~1000 buckets (the explode fan-out hazard — a long interval
    // multiplies build rows by its span). Points uniform over the domain.
    time(s"rangeJoin skewed intervals n=$n") {
      val points = spark.range(0, n).select(col("id"), (col("id") * 100L).as("t"))
      val intervals = spark.range(0, n / 10).select(
        col("id").as("iid"),
        (col("id") * 1000L).as("lo"),
        (col("id") * 1000L +
          when(pmod(col("id"), lit(100)) === 0, 1000L * 1000L).otherwise(800L)).as("hi"))
      graft.operators.RangeJoin.pointInInterval(points, "t", intervals, "lo", "hi", 1000L).count()
    }
    // Incremental ingest: index the corpus once, then dedup a 10% batch
    // against it — the daily-ingest path must cost O(batch), not O(corpus).
    val idx = "/tmp/graft_scaleprobe_mhidx"
    time(s"minhashIndex build n=$n")(
      graft.llm.MinhashIndex.write(docs, "id", "text", idx))
    time(s"minhashIndex query batch n=${n / 10}") {
      val batch = docs.filter(pmod(col("id"), lit(10)) === 0)
        .select((col("id") + 10000000L).as("id"), col("text"))
      graft.llm.MinhashIndex.dedupAgainst(batch, "id", "text", idx).count()
    }
    // Append-ingest: the same batch shape, but survivors join the index
    // (batch-internal single-link + survivor band/shingle/fp appends on
    // top of the query cost) — must stay O(batch), not rebuild-shaped.
    time(s"minhashIndex ingest batch n=${n / 10}") {
      val batch = docs.filter(pmod(col("id"), lit(10)) === 5)
        .select((col("id") + 20000000L).as("id"), col("text"))
      graft.llm.MinhashIndex.ingest(batch, "id", "text", idx).count()
    }
    // Decontamination: full corpus vs a 1% eval set. The hot hazard is the
    // TEMPLATED corpus — every doc shares the 11-token boilerplate prefix, so
    // prefix 4-grams are massively hot join keys; cost must stay join-bound
    // linear, not fan out quadratically (grams are distinct per doc and the
    // eval side dedupes before the semi-join).
    time(s"decontaminate n=$n vs eval=${n / 100}") {
      val eval = docs.filter(pmod(col("id"), lit(100)) === 0).select(col("text"))
      graft.llm.Decontaminate.clean(docs, "id", "text", eval, "text", n = 4).count()
    }
    // TF-IDF over the corpus: explode-heavy (every token travels once into
    // the (doc,term) agg, once into df) — confirms the two-agg shape stays
    // shuffle-bound with 17 distinct terms × n docs and a top-5 window.
    time(s"tfIdfTopK n=$n") {
      graft.llm.Relevance.tfIdfTopK(docs, "id", "text", n.toLong, k = 5).count()
    }
    // Segment-level dedup on the templated corpus: the boilerplate prefix
    // makes one 8-word segment hash shared by EVERY doc (maximally hot
    // aggregate key + join key). Cost must stay linear: partial agg absorbs
    // the hot key, and the join back ships counts, never text.
    time(s"segmentDupStats n=$n") {
      graft.llm.Dedup.segmentDupStats(docs, "id", "text", segWords = 8).count()
    }
    // Resample under key skew: one device emits 50% of all readings (hot
    // window partition), 1000 normal devices. Grid size is span-bound, so
    // the hot key's output stays identical to a normal key's — the probe
    // confirms the window sort, not the grid, is the scaling term.
    time(s"resampleLinear n=$n hot key") {
      val obs = spark.range(0, n).select(
        when(pmod(col("id"), lit(2)) === 0, 0L).otherwise(pmod(col("id"), lit(1000))).as("k"),
        expr("TIMESTAMP_MICROS(CAST(1704067200000000 + (id % 2592000) * 1000000 AS BIGINT))").as("ts"),
        (col("id") % 97).cast("double").as("v"))
      graft.operators.Resample.resampleLinear(obs, "k", "ts", "v", step = "6 hours").count()
    }
    // Cross-group overlap on the templated corpus: the boilerplate segment
    // lives in EVERY group, but the distinct-(group,hash) reduction bounds
    // its join fan-out to G·(G−1)/2 pairs (G = 100 template groups here),
    // independent of n.
    time(s"crossGroupOverlap n=$n groups=100") {
      val grouped = docs.withColumn("grp", pmod(col("id"), lit(100)).cast("string"))
      graft.llm.Dedup.crossGroupOverlap(grouped, "grp", "text", segWords = 8).count()
    }
    // Sketch segments: per-group HLL build over the full corpus, then a
    // merge of two half-corpus segments — merge input is segment ROWS
    // (groups × batches), so the refresh path never rescans the corpus.
    time(s"sketchStats segment+merge n=$n") {
      val grouped = docs.withColumn("grp", pmod(col("id"), lit(16)).cast("string"))
      val a = graft.llm.SketchStats.segment(
        grouped.filter(col("id") % 2 === 0), Seq("grp"), Seq("text"))
      val b = graft.llm.SketchStats.segment(
        grouped.filter(col("id") % 2 === 1), Seq("grp"), Seq("text"))
      graft.llm.SketchStats.merge(a.unionByName(b), Seq("grp"), Seq("text")).count()
    }
    // Greedy packing with one hot shard: 25% of all docs land in shard 0
    // (the straggler shape — packing is sequential per shard, so the hot
    // shard bounds wall-clock; the probe confirms cost is linear, not worse).
    time(s"packGreedy hot shard n=$n") {
      val sized = docs.select(
        col("id"),
        when(pmod(col("id"), lit(4)) === 0, lit(0L)).otherwise(pmod(col("id"), lit(64))).as("shard"),
        (pmod(col("id"), lit(900)) + 100L).as("tokens"))
      graft.llm.Packing.packGreedy(sized, "shard", "id", "tokens", 4096L).count()
    }
    // C4 line filtering over a multi-line variant of the corpus (every 4th
    // space becomes a newline): pure narrow projection, must run at scan
    // speed — no shuffle, no cliff.
    time(s"lineFilterClean n=$n") {
      val multiline = docs.select(col("id"),
        regexp_replace(col("text"), "(\\S+ \\S+ \\S+ \\S+) ", "$1\n").as("text"))
      graft.llm.LineFilter.clean(multiline, "id", "text")
        .filter(col("drop_doc")).count()
    }
    // int8 quantization report over synthetic 64-dim vectors: narrow map —
    // the probe's only job is confirming linear scan-speed behavior.
    time(s"quantStats n=$n dim=64") {
      val vecs = spark.range(0, n).select(col("id"),
        expr("transform(sequence(1, 64), i -> CAST(((id % 1000) * i) % 255 - 127 AS FLOAT) / 127.0F)")
          .as("v"))
      graft.llm.Quantize.quantStats(vecs, "id", "v")
        .agg(sum(col("code_sum"))).collect()
    }
    // Token rarity on the templated corpus: one (doc,term) shuffle + corpus
    // frequency join; the boilerplate tokens are maximally hot join keys —
    // cost must stay join-bound linear.
    time(s"tokenRarity n=$n") {
      graft.llm.Relevance.tokenRarity(docs, "id", "text").count()
    }
    // Global vocabulary top-k: explode → ONE token shuffle (map-side
    // combined) → TakeOrderedAndProject over the distinct-token table only.
    time(s"vocabulary n=$n k=1000") {
      graft.llm.Relevance.vocabulary(docs, "text", k = 1000).count()
    }
    // Unicode canonicalization: narrow codegen'd map; the ASCII corpus takes
    // the isNormalized fast path (no allocation), a decomposed suffix forces
    // the normalize path on every row — both must run at scan speed.
    time(s"unicodeNormalize n=$n fast path") {
      import graft.functions.UnicodeNormalizeExpr.unicode_normalize
      docs.select(length(unicode_normalize(col("text"))).as("l"))
        .agg(sum(col("l"))).collect()
    }
    time(s"unicodeNormalize n=$n decomposed") {
      import graft.functions.UnicodeNormalizeExpr.unicode_normalize
      docs.select(length(unicode_normalize(concat(col("text"), lit(" café")))).as("l"))
        .agg(sum(col("l"))).collect()
    }
    // Temperature sampling over a skewed group column (25% of docs in one
    // group): the rankedByHash slice rank — range-partition on (group, hash),
    // per-slice row_number + broadcast offsets — keeps the hot group's sort
    // parallel across slices, no single-task cliff.
    time(s"temperatureSample n=$n skewed groups") {
      val grouped = docs.withColumn("grp",
        when(pmod(col("id"), lit(4)) === 0, lit("hot"))
          .otherwise(pmod(col("id"), lit(64)).cast("string")))
      graft.llm.Sampling.temperatureSample(grouped, "grp", scale = 50, col("id")).count()
    }
    // Exact stratified sampling with a DOMINANT stratum: 90% of all docs in
    // one group — the shape that used to single-task the per-group rank
    // window (the 100 TB OOM wall). The slice rank must keep it parallel:
    // cost tracks corpus size, and the kept count stays exactly
    // ceil(0.1 · |stratum|) per stratum.
    time(s"stratifiedExact n=$n 90%-hot stratum") {
      val grouped = docs.withColumn("grp",
        when(pmod(col("id"), lit(10)) < 9, lit("hot"))
          .otherwise(pmod(col("id"), lit(64)).cast("string")))
      graft.llm.Sampling.stratifiedExact(grouped, Seq("grp"), col("id"), 0.1, "s").count()
    }
    // Weighted training-mix interleave with a 25%-hot source: the sliced
    // per-source rank + range-partitioned global enumeration must keep both
    // the hot source's rank and the final total order parallel — cost
    // tracks corpus size, no single-task sort anywhere.
    time(s"weightedInterleave n=$n hot source") {
      val grouped = docs.withColumn("src",
        when(pmod(col("id"), lit(4)) === 0, lit("hot"))
          .otherwise(pmod(col("id"), lit(16)).cast("string")))
      graft.llm.Interleave.weightedInterleave(
        grouped, "src", Map("hot" -> 0.5), 1.0, col("id")).count()
    }
    // The opposite extreme: 100k DISTINCT strata (domain-level sampling).
    // The per-(slice, group) counts table is ~100k rows here — far past any
    // broadcast budget comfort zone at real scale — so the unhinted stats
    // join must stay cheap (the windowed side is pre-partitioned and
    // pre-sorted on the join keys; only the tiny stats side moves).
    time(s"stratifiedExact n=$n 100k strata") {
      val grouped = docs.withColumn("grp", pmod(col("id"), lit(100000)).cast("string"))
      graft.llm.Sampling.stratifiedExact(grouped, Seq("grp"), col("id"), 0.25, "s").count()
    }
    // PII redaction: four regexp_replace passes, pure narrow projection —
    // must track scan speed even with per-row synthetic PII forcing real
    // replacements on every document.
    time(s"redact n=$n") {
      val pii = docs.select(col("id"),
        concat(col("text"), lit(" u"), col("id").cast("string"),
          lit("@example.com 10.0.0."), pmod(col("id"), lit(256)).cast("string")).as("text"))
      pii.select(length(graft.llm.Redact.redact(col("text"))).as("l"))
        .agg(sum(col("l"))).collect()
    }
    // Count-min sketch build over the doc ids (400k distinct keys into a
    // 4×1024 matrix): the (d,b) shuffle is map-side combined down to ≤4096
    // cells — cost is the narrow hash map, not the agg.
    time(s"cmsBuild n=$n depth=4 width=1024") {
      graft.llm.CmsSketch.build(docs, col("id"), depth = 4, width = 1024).count()
    }
    // Sketch-segment refresh at daily-batch cadence: ~3 years of daily
    // segments in one parquet store — 1000 CMS segments × 4×1024 cells
    // (4.1M rows) and 1000 histogram segments × 64 bins (64k rows). The
    // stores are synthesized at EXACTLY the cardinality the daily builds
    // would produce (merge cost depends only on store rows; build-side
    // correctness is pinned by the StreamingSpec per-microbatch parity
    // cases and the q141/q142 oracles). Merge must be segment-row-bound —
    // it reads the store, never the corpus that produced it — and linear
    // in segment count: 100 → 1000 must scale ~10×, no cliff.
    def cmsStore(nSegs: Int): String = {
      val dir = s"/tmp/graft_scaleprobe_cms_segs_$nSegs"
      val cells = spark.range(0, 4).select(col("id").cast("int").as("d"))
        .crossJoin(spark.range(0, 1024).select(col("id").as("b")))
      spark.range(0, nSegs).select(col("id").as("_seg")).crossJoin(cells)
        .select(col("d"), col("b"),
          (pmod(col("_seg") * 31L + col("b") * 7L + col("d"), lit(1000)) + 1L).as("cnt"))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    // Persistent IVF index at 400k × 64-dim vectors: build (KMeans + full
    // assignment + list-partitioned write) is the one-off cost; the query
    // path must be probed-partition-bound — a 1k-query batch probing 4 of
    // 64 lists reads ~1/16 of the corpus files, not all of them.
    // block guards use the SAME predicate time() applies to each label
    // inside, so a filter that would match a probe always runs its prep
    def anySelected(labels: String*): Boolean = labels.exists(_.contains(labelFilter))
    val ivfBuildLabel = s"ivfIndex build n=$n dim=64 nlist=64 sampled-train"
    val ivfBuildFullLabel = s"ivfIndex build n=$n dim=64 nlist=64 full-train"
    val ivfQueryLabel = s"ivfIndex query batch=1000 nprobe=4"
    val ivfQueryFullLabel = s"ivfIndex query batch=1000 nprobe=4 full-train index"
    val ivfSkewLabel = s"ivfIndex skewed query batch=1000 nprobe=4 50%-hot list"
    if (anySelected(ivfBuildLabel, ivfBuildFullLabel, ivfQueryLabel, ivfQueryFullLabel)) {
      val vecs = spark.range(0, n).select(col("id"),
        expr("transform(sequence(1, 64), i -> CAST(((id % 997) * i) % 255 - 127 AS FLOAT) / 127.0F)")
          .as("v"))
      val idxDir = "/tmp/graft_scaleprobe_ivfindex"
      val idxDirFull = "/tmp/graft_scaleprobe_ivfindex_full"
      time(ivfBuildLabel) {
        graft.llm.IvfIndex.write(vecs, "id", "v", idxDir, nlist = 64)
      }
      // the pre-sampling baseline: quantizer trained on every corpus vector
      time(ivfBuildFullLabel) {
        graft.llm.IvfIndex.write(vecs, "id", "v", idxDirFull, nlist = 64,
          samplePerList = Int.MaxValue / 64)
      }
      // query-only filter: the builds above were skipped by time()'s label
      // check — run them UNTIMED so the query probes never read a missing
      // or stale-n index
      if (!ivfBuildLabel.contains(labelFilter))
        graft.llm.IvfIndex.write(vecs, "id", "v", idxDir, nlist = 64)
      if (ivfQueryFullLabel.contains(labelFilter) && !ivfBuildFullLabel.contains(labelFilter))
        graft.llm.IvfIndex.write(vecs, "id", "v", idxDirFull, nlist = 64,
          samplePerList = Int.MaxValue / 64)
      time(ivfQueryLabel) {
        val queries = vecs.filter(pmod(col("id"), lit(400)) === 0)
        graft.llm.IvfIndex.topK(queries, "id", "v", idxDir, k = 10, nprobe = 4).count()
      }
      time(ivfQueryFullLabel) {
        val queries = vecs.filter(pmod(col("id"), lit(400)) === 0)
        graft.llm.IvfIndex.topK(queries, "id", "v", idxDirFull, k = 10, nprobe = 4).count()
      }
    }
    // Skewed corpus: half of all vectors collapse onto ~8 dense patterns →
    // one/few giant inverted lists. A bare per-query rerank window would
    // sort a hot list's full candidate set in ONE task; the salted
    // two-level rerank must keep cost near the uniform case.
    if (anySelected(ivfSkewLabel)) {
      val skew = spark.range(0, n).select(col("id"),
        expr("transform(sequence(1, 64), i -> CAST((((CASE WHEN id % 2 = 0 THEN id % 8 ELSE id % 997 END)) * i) % 255 - 127 AS FLOAT) / 127.0F)")
          .as("v"))
      val skewDir = "/tmp/graft_scaleprobe_ivfindex_skew"
      graft.llm.IvfIndex.write(skew, "id", "v", skewDir, nlist = 64) // untimed prep
      time(ivfSkewLabel) {
        val queries = skew.filter(pmod(col("id"), lit(400)) === 0)
        graft.llm.IvfIndex.topK(queries, "id", "v", skewDir, k = 10, nprobe = 4).count()
      }
    }
    // Index-backed hard negatives under list skew (r12 advice #7): the
    // query batch's positives all pile into the hot inverted list (every
    // query IS one of the 8 dense patterns), so per-query candidate sets
    // hit the same giant partition. Cost must stay ≈ the uniform-corpus
    // route: the k·headroom retrieval bound and the salted rerank absorb
    // the hot list; the exclusion join is per-query-bounded either way.
    if (anySelected(s"hardNegIndexed n=$n")) {
      val mkLabelled = (vexpr: String) => spark.range(0, n).select(col("id"),
        expr(vexpr).as("v"), pmod(col("id"), lit(16)).as("label"))
      val uniform = mkLabelled(
        "transform(sequence(1, 64), i -> CAST(((id % 997) * i) % 255 - 127 AS FLOAT) / 127.0F)")
      val skew = mkLabelled(
        "transform(sequence(1, 64), i -> CAST((((CASE WHEN id % 2 = 0 THEN id % 8 ELSE id % 997 END)) * i) % 255 - 127 AS FLOAT) / 127.0F)")
      val du = "/tmp/graft_scaleprobe_hn_uniform"
      val ds = "/tmp/graft_scaleprobe_hn_skew"
      graft.llm.IvfIndex.write(uniform, "id", "v", du, nlist = 64) // untimed prep
      graft.llm.IvfIndex.write(skew, "id", "v", ds, nlist = 64)
      time(s"hardNegIndexed n=$n uniform batch=1000") {
        val q = uniform.filter(pmod(col("id"), lit(n / 1000)) === 0)
        graft.llm.Similarity.hardNegativesIndexed(
          q, "id", "v", Seq("id", "label"), du, k = 8,
          exclude = col("q_label") === col("neg_label"), nprobe = 4,
          corpusMeta = Some((uniform, "id", Seq("id", "label")))).count()
      }
      time(s"hardNegIndexed n=$n 50%-hot-list batch=1000 (all queries dense patterns)") {
        // n/1000 is even, so every sampled id is even → every query vector
        // is one of the 8 dense patterns and every probe targets hot lists
        val q = skew.filter(pmod(col("id"), lit(n / 1000)) === 0)
        graft.llm.Similarity.hardNegativesIndexed(
          q, "id", "v", Seq("id", "label"), ds, k = 8,
          exclude = col("q_label") === col("neg_label"), nprobe = 4,
          corpusMeta = Some((skew, "id", Seq("id", "label")))).count()
      }
    }
    if (anySelected("cmsMerge 100 segments 4x1024", "cmsMerge 1000 segments 4x1024")) {
      val d100 = cmsStore(100)
      val d1000 = cmsStore(1000)
      time(s"cmsMerge 100 segments 4x1024") {
        graft.llm.CmsSketch.merge(spark.read.parquet(d100)).count()
      }
      time(s"cmsMerge 1000 segments 4x1024") {
        graft.llm.CmsSketch.merge(spark.read.parquet(d1000)).count()
      }
    }
    if (anySelected("histMerge+quantiles 1000 segments 64 bins")) {
      val dir = "/tmp/graft_scaleprobe_hist_segs"
      spark.range(0, 1000).select(col("id").as("_seg"))
        .crossJoin(spark.range(0, 64).select(col("id").as("bin")))
        .select(col("bin"), (pmod(col("_seg") * 13L + col("bin") * 3L, lit(500)) + 1L).as("cnt"))
        .write.mode("overwrite").parquet(dir)
      time(s"histMerge+quantiles 1000 segments 64 bins") {
        val merged = graft.llm.HistSketch.merge(spark.read.parquet(dir))
        graft.llm.HistSketch.quantiles(merged, Seq(0.5, 0.9, 0.99), 0.0, 640.0, 64)
          .collect().map(r => f"${r.getDouble(0)}:${r.getDouble(1)}%.1f").mkString(",")
      }
    }
    // Bloom-prefiltered anti-join vs the plain anti-join at the blocklist
    // shape: big corpus, 10% blocklist, ~2% overlap. The bitmap (sized 8
    // bits/key) discards ~98% of big rows before any join; the exact scrub
    // sees only true members + fp collisions. Both must return the same
    // count — the probe confirms the pre-filter wins (or at least doesn't
    // lose) at this scale and stays exact.
    if (anySelected(s"bloomAntiJoin n=$n", s"plainAntiJoin n=$n",
        s"bloomBuild n=$n", s"bloomFlag n=$n")) {
      val big = docs.select(col("id"), col("text"))
      // blocklist: every 50th corpus id (2% overlap) + disjoint tail to 10%
      val block = spark.range(0, n / 10).select(
        when(pmod(col("id"), lit(5)) === 0, col("id") * 50L)
          .otherwise(col("id") + 10000000L).as("bid"))
      val bits = 8L * (n / 10)
      time(s"bloomBuild n=$n blocklist=${n / 10}") {
        graft.llm.BloomSketch.build(block, col("bid"), bits, 5).count()
      }
      val sk = graft.llm.BloomSketch.build(block, col("bid"), bits, 5)
        .localCheckpoint(true)
      time(s"bloomFlag n=$n (maybes reaching the exact join)") {
        graft.llm.BloomSketch.mightContain(sk, big, col("id"), bits, 5)
          .filter(col("might_contain")).count()
      }
      time(s"bloomAntiJoin n=$n blocklist=${n / 10}") {
        graft.llm.BloomSketch.antiJoin(big, col("id"), block, col("bid"),
          bits = bits, hashes = 5).count()
      }
      time(s"plainAntiJoin n=$n blocklist=${n / 10} (broadcast — the blocklist fits here; at 10^9 keys it cannot)") {
        big.join(block, col("id") === col("bid"), "left_anti").count()
      }
      time(s"plainAntiJoin n=$n blocklist=${n / 10} merge-join (the no-broadcast shape: big side fully shuffles)") {
        big.join(block.hint("merge"), col("id") === col("bid"), "left_anti").count()
      }
    }
    // Token-budget mixture under a 90%-hot group: the dominant source's
    // weighted prefix sum must accumulate across its range slices in
    // parallel (slicedPrefix), not in one task — same hazard class as the
    // exact samplers, now with weights instead of counts.
    if (anySelected(s"tokenBudgetSample n=$n")) {
      val grouped = docs.select(col("id"),
        when(pmod(col("id"), lit(10)) < 9, lit("hot")).otherwise(lit("tail")).as("src"),
        (pmod(col("id"), lit(400)) + 100).as("toks"))
      time(s"tokenBudgetSample n=$n 90%-hot source") {
        graft.llm.Sampling.tokenBudgetSample(grouped, "src", col("toks"),
          Map("hot" -> 10000000L), default = 3000000L, key = col("id"), salt = "sp")
          .groupBy("src").agg(sum("toks"), count(lit(1))).collect()
          .map(_.toSeq.mkString(":")).sorted.mkString(" ")
      }
    }
    // LM scoring at corpus scale: train on half the templated corpus, score
    // everything. The templated text makes most bigrams extremely hot join
    // keys (the boilerplate prefix appears in every doc) — the probe
    // confirms the (w1,w2)-keyed join + id-keyed agg stay shuffle-bound
    // linear with maximally skewed gram frequencies.
    if (anySelected(s"lmTrain n=$n", s"lmScore n=$n")) {
      val train = docs.filter(pmod(col("id"), lit(2)) === 0)
      time(s"lmTrain n=${n / 2}") {
        graft.llm.LangModel.bigramCounts(train, "text").count() +
          graft.llm.LangModel.unigramCounts(train, "text").count()
      }
      val bg = graft.llm.LangModel.bigramCounts(train, "text").localCheckpoint(true)
      val ug = graft.llm.LangModel.unigramCounts(train, "text").localCheckpoint(true)
      val v = ug.count()
      time(s"lmScore n=$n vocab=$v") {
        graft.llm.LangModel.score(docs, "id", "text", bg, ug, v)
          .agg(sum("n_unseen"), count(lit(1))).collect().head.toSeq.mkString("/")
      }
    }
    // PQ/ADC retrieval vs brute force at the linear-scan shape: PQ scores
    // every candidate too (no inverted lists here), but each score is m=8
    // array lookups over the codes instead of a 64-dim float dot — the probe
    // confirms the ADC pass (including codebook training + encode) beats
    // the float scan at the same batch, and stays exact via the rescore.
    if (anySelected(s"pqTopK n=$n", s"bruteForceTopK n=$n", s"pqEncode n=$n")) {
      val vecs = spark.range(0, n).select(col("id"),
        expr("transform(sequence(1, 64), i -> CAST(((id % 997) * i) % 255 - 127 AS FLOAT) / 127.0F)")
          .as("v"))
      val queries = vecs.filter(pmod(col("id"), lit(4000)) === 0) // batch=100
      time(s"pqEncode n=$n m=8 ksub=16 (train + narrow code scan)") {
        val cbs = graft.llm.Pq.trainCodebooks(vecs, "id", "v", dim = 64, m = 8, ksub = 16)
        graft.llm.Pq.encode(vecs, "id", "v", cbs, dim = 64, m = 8).count()
      }
      time(s"pqTopK n=$n batch=100 factor=4 (ADC shortlist + exact rescore)") {
        graft.llm.Pq.pqTopK(vecs, "id", "v", queries, "id", "v",
          dim = 64, k = 10, m = 8, ksub = 16, shortlistFactor = 4).count()
      }
      time(s"bruteForceTopK n=$n batch=100 (float scan baseline)") {
        graft.llm.Similarity.bruteForceTopK(vecs, "id", "v", queries, "id", "v", 10).count()
      }
    }
    // SemDeDup at the mass-duplication shape: 50% of vectors collapse onto 8
    // dense patterns, the rest onto ~1000 repeated patterns — every cluster
    // is duplicate-heavy, so the bucketCandidates star cap (not n²) and the
    // CC rounds are what's probed. KMeans trains on the 256×64 hash-sample.
    if (anySelected(s"semDedup n=$n")) {
      val skew = spark.range(0, n).select(col("id"),
        expr("transform(sequence(1, 64), i -> CAST((((CASE WHEN id % 2 = 0 THEN id % 8 ELSE id % 997 END)) * i) % 255 - 127 AS FLOAT) / 127.0F)")
          .as("v"))
      time(s"semDedup n=$n 8 dense patterns, nclusters=64") {
        graft.llm.Dedup.semDedup(skew, "id", "v", nclusters = 64, tau = 0.999).count()
      }
    }
    // Incremental SemDeDup: build the index on the full corpus, then ingest
    // a 2.5% daily batch at the same mass-duplication shape. The ingest
    // cost must scale with the BATCH (assignment + pruned kept-row reads +
    // capped candidates) — a rebuild-shaped cost here would mean the
    // incremental path is re-pairing the corpus.
    if (anySelected(s"semIndexIngest n=$n")) {
      val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(col("id"),
        expr("transform(sequence(1, 64), i -> CAST((((CASE WHEN id % 2 = 0 THEN id % 8 ELSE id % 997 END)) * i) % 255 - 127 AS FLOAT) / 127.0F)")
          .as("v"))
      val path = java.nio.file.Files.createTempDirectory("semidx_probe").toString + "/idx"
      time(s"semIndexIngest n=$n build full") {
        graft.llm.SemIndex.write(mk(0, n), "id", "v", path, nclusters = 64, tau = 0.999)
        spark.read.parquet(s"$path/vectors").count()
      }
      time(s"semIndexIngest n=$n ingest batch=${n / 40}") {
        graft.llm.SemIndex.ingest(mk(n, n + n / 40), "id", "v", path).count()
      }
    }
    // Index compaction: 20 sequential tiny ingests leave ~20 file sets per
    // touched cluster directory (the long-lived-index failure mode);
    // compact must cut the file count while the dedup/query layout stays
    // identical, at a cost proportional to the data rewritten.
    if (anySelected(s"semIndexCompact n=$n")) {
      val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(col("id"),
        expr("transform(sequence(1, 64), i -> CAST((((CASE WHEN id % 2 = 0 THEN id % 8 ELSE id % 997 END)) * i) % 255 - 127 AS FLOAT) / 127.0F)")
          .as("v"))
      val path = java.nio.file.Files.createTempDirectory("semidx_cmp").toString + "/idx"
      graft.llm.SemIndex.write(mk(0, n), "id", "v", path, nclusters = 64, tau = 0.999)
      time(s"semIndexCompact n=$n 20 tiny ingests") {
        var b = 0L
        while (b < 20) {
          graft.llm.SemIndex.ingest(
            mk(n + b * (n / 800), n + (b + 1) * (n / 800)), "id", "v", path).count()
          b += 1
        }
      }
      time(s"semIndexCompact n=$n compact") {
        val (parts, before, after) = graft.llm.SemIndex.compact(spark, path)
        println(s"    compacted $parts partitions, files $before -> $after")
        spark.read.parquet(s"$path/vectors").count()
      }
    }
    // Misra–Gries at corpus scale: one narrow scan, ≤ cap×partitions summary
    // rows, no corpus shuffle — plus the 1000-segment compaction path.
    if (anySelected(s"heavyHitters n=$n", "hhMerge 1000 segments")) {
      val keyed = docs.select(
        when(pmod(col("id"), lit(10)) < 7,
          concat(lit("hot-"), pmod(col("id"), lit(3)).cast("string")))
          .otherwise(concat(lit("cold-"), col("id").cast("string"))).as("key"))
      time(s"heavyHitters n=$n cap=256") {
        graft.llm.HeavyHitters.heavyHitters(keyed, col("key"), 256).count()
      }
      val segDir = "/tmp/graft_scaleprobe_hh_segs"
      spark.range(0, 1000).select(col("id").as("_seg"))
        .crossJoin(spark.range(0, 256).select(col("id").as("_k")))
        .select(concat(lit("k"), pmod(col("_seg") * 7L + col("_k"), lit(5000)).cast("string")).as("key"),
          (pmod(col("_seg") + col("_k"), lit(200)) + 1L).as("est"))
        .write.mode("overwrite").parquet(segDir)
      time(s"hhMerge 1000 segments cap=256") {
        graft.llm.HeavyHitters.merge(spark.read.parquet(segDir), 256).count()
      }
    }
    // Exact grouped quantiles / MAD under a 90%-hot group: the shape that
    // OOMs Spark's buffering percentile aggregate (one group's values in
    // one aggregation buffer) and single-tasks a per-group rank window.
    // The slice-rank path must track corpus size at BOTH cardinality
    // extremes — dominant group and 100k distinct groups — like the exact
    // samplers it shares the engine with.
    if (anySelected(s"madOutliers n=$n", s"groupedQuantiles n=$n")) {
      val hotGrouped = docs.select(col("id"),
        when(pmod(col("id"), lit(10)) < 9, lit("hot"))
          .otherwise(pmod(col("id"), lit(64)).cast("string")).as("g"),
        (pmod(col("id"), lit(997)) + (col("id") % 13) * 1000).cast("double").as("v"))
      time(s"madOutliers n=$n 90%-hot group") {
        graft.llm.RobustStats.madOutliers(hotGrouped, Seq("g"), col("v"), k = 3.5)
          .filter(col("is_outlier")).count()
      }
      val manyGroups = docs.select(col("id"),
        pmod(col("id"), lit(100000)).cast("string").as("g"),
        (pmod(col("id"), lit(997))).cast("double").as("v"))
      time(s"groupedQuantiles n=$n 100k groups p50/p90/p99") {
        graft.llm.RobustStats.groupedQuantiles(manyGroups, Seq("g"), col("v"),
          Seq(0.5, 0.9, 0.99)).count()
      }
    }
    // URL canonicalization + dedup: the projection must run at scan speed;
    // the keep-first pass is ONE shuffle on the canonical key. 100 spelling
    // variants per canonical URL (hot dup groups) must not cliff.
    if (anySelected(s"urlDedup n=$n")) {
      val urls = docs.select(col("id"),
        concat(
          when(pmod(col("id"), lit(2)) === 0, lit("https://WWW.")).otherwise(lit("http://")),
          lit("Host"), pmod(col("id"), lit(4000)).cast("string"),
          lit(".Example.COM/a/"), pmod(col("id"), lit(4000)).cast("string"),
          when(pmod(col("id"), lit(3)) === 0, lit("/index.html")).otherwise(lit("/")),
          lit("?utm_source=x&page="), pmod(col("id"), lit(2)).cast("string"),
          lit("&gclid=z#frag")).as("url"))
      time(s"urlDedup n=$n ~100 variants per canonical") {
        graft.llm.UrlNorm.dedupByUrl(urls, "url", "id").count()
      }
    }
    // Multi-canary search: 1000 canaries, ONE automaton pass per document —
    // cost must be flat in canary count (the contains-chain comparison scans
    // the corpus per-canary and is run at 10 canaries only).
    if (anySelected(s"canaryHits n=$n", s"containsChain n=$n")) {
      val canaries = (0 until 1000).map(i => s"template ${i % 100} with suffix token ${i % 17}")
      time(s"canaryHits n=$n canaries=1000") {
        graft.llm.Decontaminate.canaryHits(docs, "id", "text", canaries).count()
      }
      val few = canaries.take(10)
      time(s"canaryHits n=$n canaries=10") {
        graft.llm.Decontaminate.canaryHits(docs, "id", "text", few).count()
      }
      time(s"containsChain n=$n canaries=10 (k scans)") {
        docs.filter(few.map(c => col("text").contains(c)).reduce(_ || _)).count()
      }
    }
    // Negative sampling: per-query cost is the broadcast POOL (10k rows
    // here), never the corpus — 4k queries × 10k pool = 40M scored pairs
    // through the salted top-k, all map-side; the corpus contributes one
    // narrow pool-draw scan.
    if (anySelected(s"negativeSample n=$n")) {
      val corpus = docs.select(col("id"),
        pmod(col("id"), lit(100)).cast("string").as("src"))
      val queries = corpus.filter(pmod(col("id"), lit(100)) === 0)
      time(s"negativeSample n=$n queries=${n / 100} pool=10k k=8") {
        graft.llm.Sampling.negativeSample(
          queries, col("id"), Seq("id", "src"),
          corpus, col("id"), Seq("id", "src"),
          k = 8, poolSize = 10000, salt = "sp",
          exclude = col("q_id") === col("neg_id") || col("q_src") === col("neg_src"),
          corpusCount = Some(n.toLong) // known cardinality — no count job
        ).count()
      }
    }
    // BPE: training cost is bounded by the WORD table (tiny here — the
    // templated corpus has ~220 distinct words), not the corpus; the
    // tokenize pass is a narrow scan whose cost tracks corpus size.
    if (anySelected(s"bpeTrain n=$n", s"bpeTokenize n=$n")) {
      var merges: Seq[(String, String)] = Nil
      time(s"bpeTrain n=$n merges=200") {
        merges = graft.llm.Bpe.trainMerges(docs, "text", numMerges = 200)
        merges.length
      }
      if (merges.isEmpty) merges = graft.llm.Bpe.trainMerges(docs, "text", 200)
      time(s"bpeTokenize n=$n") {
        graft.llm.Bpe.tokenized(docs, "text", merges)
          .agg(sum("n_bpe_tokens")).collect().head.getLong(0)
      }
    }
    // Content-defined chunking: narrow codegen'd pass + explode — must run
    // at scan speed like the line filter; ~6 chunks/doc at these params.
    if (anySelected(s"cdcChunk n=$n")) {
      time(s"cdcChunk n=$n min=8 mask=4 max=64") {
        graft.llm.Chunking.chunkByContent(docs, "text",
          minLen = 8, maskBits = 4, maxLen = 64).count()
      }
    }
    // Cross-doc repeated-substring removal on THE adversarial shape: the
    // probe corpus is boilerplate-heavy by construction (every doc shares
    // the 12-token fox prefix, 25% share a hot template) — so nearly every
    // window is duplicated and nearly every doc gets spans cut. Cost must
    // stay one grams shuffle + one dup-volume-bounded explode; the hot
    // window hashes (~400k occurrences each) are absorbed by partial
    // aggregation, never a per-key sort.
    if (anySelected(s"spanDedup n=$n")) {
      time(s"spanDedup n=$n k=8 boilerplate-heavy") {
        graft.llm.SpanDedup.dedupSpans(docs, "id", "text", k = 8)
          .agg(sum("n_tokens_removed")).collect().head.getLong(0)
      }
      // the stage-path gram-key mode: 8-byte xxhash64 keys instead of
      // 32-char md5 hex — the (doc,pos,hash) explode is the operator's
      // entire shuffle, so the narrow key must show up as wall-time here
      // and as ~4x fewer shuffle bytes in the stage metrics
      time(s"spanDedup n=$n k=8 xxhash64 keys") {
        graft.llm.SpanDedup.dedupSpans(docs, "id", "text", k = 8, hashMode = "xxhash64")
          .agg(sum("n_tokens_removed")).collect().head.getLong(0)
      }
    }
    // HTML extraction: a pure regexp_replace chain — must run at scan
    // speed like the line filter (the regex engine is the whole cost).
    if (anySelected(s"htmlExtract n=$n")) {
      time(s"htmlExtract n=$n") {
        graft.llm.HtmlText.htmlToText(
          docs.select(col("id"),
            concat(lit("<html><head><style>p{}</style><script>a < b && c;</script></head><body><p>"),
              col("text"), lit("</p><!-- c --></body></html>")).as("h")), "h")
          .agg(sum("text_extracted_chars")).collect().head.getLong(0)
      }
    }
    // n-gram language ID: narrow codegen'd expression with broadcast-free
    // reference profiles — must be scan-bound like the other per-row text
    // expressions (profile cost is per row: gram count + 10 rank sums).
    if (anySelected(s"langidNgram n=$n")) {
      time(s"langidNgram n=$n 10 languages") {
        docs.select(graft.llm.LangId.languageIdNgram(col("text")).as("lang"))
          .groupBy("lang").count().collect().map(_.getLong(1)).sum
      }
    }
    // Incremental span dedup: index the boilerplate-heavy corpus once, then
    // dedup a 2.5% batch against it — cost must be O(batch grams): one
    // batch shingle pass + broadcast-bloom membership + bucket-pruned
    // verification + new-gram append, never a corpus re-shingle. The batch
    // repeats the corpus templates, so nearly EVERY batch gram is a bloom
    // hit — the worst case for the verification join.
    if (anySelected(s"spanIndexIngest n=$n")) {
      val mkT = (lo: Long, hi: Long) => spark.range(lo, hi).select(
        col("id"),
        concat(
          lit("the quick brown fox jumps over the lazy dog near the river bank "),
          when(pmod(col("id"), lit(4)) === 0, lit("hot template shared by a quarter of the corpus "))
            .otherwise(concat(lit("template "), pmod(col("id"), lit(100)).cast("string"), lit(" "))),
          lit("with suffix token "), pmod(col("id"), lit(17)).cast("string")
        ).as("text"))
      val path = java.nio.file.Files.createTempDirectory("spanidx_probe").toString + "/idx"
      time(s"spanIndexIngest n=$n build k=8") {
        graft.llm.SpanIndex.write(mkT(0, n), "id", "text", path, k = 8).count()
      }
      time(s"spanIndexIngest n=$n ingest batch=${n / 40} (all-hit worst case)") {
        graft.llm.SpanIndex.ingest(mkT(n, n + n / 40), "id", "text", path).count()
      }
    }
    // Token-id packing: per-shard prefix sum + doc-level explode + ONE
    // window-assembly shuffle — token ids cross the wire exactly once.
    // 25%-hot shard; ~48M tokens total at n=400k.
    if (anySelected(s"packTokenIds n=$n")) {
      time(s"packTokenIds n=$n ctx=2048 hot shard") {
        val toks = spark.range(0, n).select(col("id"),
          when(pmod(col("id"), lit(4)) === 0, lit(0L))
            .otherwise(pmod(col("id"), lit(64))).as("shard"),
          expr("transform(sequence(1, CAST(id % 200 + 20 AS INT)), i -> id * 1000 + i)")
            .as("ids"))
        graft.llm.Packing.packTokenIds(toks, "id", "shard", "id", "ids", 2048).count()
      }
    }
    // Unigram tokenizer: like BPE, training cost is bounded by the WORD
    // table (hard-EM runs driver-side on ~220 distinct words here), not
    // the corpus; the Viterbi encode pass is a narrow codegen'd scan
    // whose cost tracks corpus size × word length × max piece length.
    if (anySelected(s"unigramTrain n=$n", s"unigramEncode n=$n")) {
      var model: graft.llm.Unigram.Model = null
      time(s"unigramTrain n=$n vocab=2000") {
        model = graft.llm.Unigram.train(docs, "text", vocabSize = 2000)
        model.pieces.length
      }
      if (model == null) model = graft.llm.Unigram.train(docs, "text", vocabSize = 2000)
      time(s"unigramEncode n=$n") {
        graft.llm.Unigram.encodeIds(docs, "text", model)
          .agg(sum("n_tokens")).collect().head.getLong(0)
      }
    }
    // WordPiece tokenizer: the likelihood merge loop is word-table-bound
    // like BPE training (one pass over the capped word table per merge);
    // the greedy longest-match encode is a narrow codegen'd scan.
    if (anySelected(s"wordpieceTrain n=$n", s"wordpieceEncode n=$n")) {
      var model: graft.llm.WordPiece.Model = null
      time(s"wordpieceTrain n=$n vocab=300") {
        model = graft.llm.WordPiece.train(docs, "text", vocabSize = 300)
        model.entries.length
      }
      if (model == null) model = graft.llm.WordPiece.train(docs, "text", vocabSize = 300)
      time(s"wordpieceEncode n=$n") {
        graft.llm.WordPiece.encodeIds(docs, "text", model)
          .agg(sum("n_tokens")).collect().head.getLong(0)
      }
    }
    // NB classifier: training is one (label, token) aggregate (output
    // vocab×classes bounded); predict is a broadcast-model join over the
    // (doc, token) explode with one id-keyed score aggregate — the text
    // itself never shuffles.
    if (anySelected(s"nbClassifier n=$n")) {
      time(s"nbClassifier n=$n train+predict 2 classes") {
        val labeled = docs
          .withColumn("label",
            when(pmod(col("id"), lit(3)) === 0, lit("promo")).otherwise(lit("clean")))
          .withColumn("text2", concat(col("text"),
            when(col("label") === "promo", lit(" subscribe now limited offer"))
              .otherwise(lit(" analysis method result discussion"))))
        val m = graft.llm.NaiveBayes.train(labeled, "text2", "label")
        graft.llm.NaiveBayes.predict(labeled, "id", "text2", m)
          .groupBy("label_pred").count().collect().map(_.getLong(1)).sum
      }
    }
    // Capped NB on a WIDE-vocab corpus: every doc contributes unique
    // tokens (raw distinct-token table ~ corpus-shaped — the uncapped
    // driver hazard); maxVocabPerClass bounds what predict collects to
    // 2 × 5000 rows regardless of n. The probe reports the collected
    // token-table size next to the time, so the bound is visible.
    if (anySelected(s"nbCappedTrain n=$n")) {
      time(s"nbCappedTrain n=$n wide vocab maxVocabPerClass=5000") {
        val wide = docs
          .withColumn("label",
            when(pmod(col("id"), lit(3)) === 0, lit("promo")).otherwise(lit("clean")))
          .withColumn("text2", concat(col("text"),
            lit(" uniq"), col("id").cast("string"),
            lit(" uniq"), (col("id") * 7).cast("string")))
        val m = graft.llm.NaiveBayes.train(wide, "text2", "label",
          maxVocabPerClass = 5000)
        val vocabRows = m.tokenTable.count()
        require(vocabRows <= 2L * 5000,
          s"cap leaked: $vocabRows token rows")
        val preds = graft.llm.NaiveBayes.predict(wide, "id", "text2", m)
          .groupBy("label_pred").count().collect().map(_.getLong(1)).sum
        s"tokenRows=$vocabRows preds=$preds"
      }
    }
    // Word-count ingest: the point is O(batch + vocab) — the daily batch
    // (n/40 docs) folds into an n-doc table without re-reading the corpus.
    if (anySelected(s"wordCountsIngest n=$n")) {
      val dir = java.nio.file.Files.createTempDirectory("probe_wc").toString + "/wc"
      graft.llm.WordCounts.write(docs, "text", dir)
      time(s"wordCountsIngest n=$n batch=${n / 40}") {
        val batch = spark.range(n, n + n / 40).select(col("id"),
          concat(lit("fresh daily words token "),
            pmod(col("id"), lit(97)).cast("string")).as("text"))
        graft.llm.WordCounts.ingest(batch, "text", dir).count()
      }
    }
    // Quality signals: both are narrow codegen'd projections — the probe
    // pins corpus-scan throughput (entropy is two passes over chars,
    // deflate is zlib per doc; neither shuffles).
    if (anySelected(s"qualitySignals n=$n")) {
      time(s"qualitySignals n=$n entropy+deflate") {
        docs.select(
          graft.functions.CharEntropyExpr.char_entropy(col("text")).as("e"),
          graft.functions.DeflateRatioExpr.deflate_ratio(col("text")).as("z"))
          .agg(sum(col("e") + col("z"))).head().getDouble(0).round
      }
    }
    // Count-store takedown: delete must be O(batch + vocab) like ingest —
    // the table subtracts the batch's counts exactly, never re-reading
    // the historical corpus.
    if (anySelected(s"wordCountsDelete n=$n")) {
      val dir = java.nio.file.Files.createTempDirectory("probe_wcd").toString + "/wc"
      graft.llm.WordCounts.write(docs, "text", dir)
      val batch = spark.range(n, n + n / 40).select(col("id"),
        concat(lit("fresh daily words token "),
          pmod(col("id"), lit(97)).cast("string")).as("text"))
      graft.llm.WordCounts.ingest(batch, "text", dir)
      time(s"wordCountsDelete n=$n batch=${n / 40}") {
        graft.llm.WordCounts.delete(batch, "text", dir).count()
      }
    }
    // NB unlearn: subtract a 10% labeled batch from the persisted model —
    // one training pass over the BATCH plus vocab-bounded merges; the
    // corpus that stays trained is never touched.
    if (anySelected(s"nbUnlearn n=$n")) {
      val labeled = docs
        .withColumn("label",
          when(pmod(col("id"), lit(3)) === 0, lit("promo")).otherwise(lit("clean")))
        .withColumn("text2", concat(col("text"),
          when(col("label") === "promo", lit(" subscribe now limited offer"))
            .otherwise(lit(" analysis method result discussion"))))
      val dir = java.nio.file.Files.createTempDirectory("probe_nbu").toString + "/model"
      graft.llm.NaiveBayes.write(
        graft.llm.NaiveBayes.train(labeled, "text2", "label"), dir)
      val batch = labeled.filter(pmod(col("id"), lit(10)) === 0)
      time(s"nbUnlearn n=$n batch=${n / 10}") {
        graft.llm.NaiveBayes.unlearn(batch, "text2", "label", dir)
          .tokenTable.count()
      }
    }
    // Index takedown with id-derived discovery: the shingles/exact tables
    // never scan (touched dirs computed from the ids), bands takes one
    // column-pruned pass; the rewrite touches only matching partitions.
    if (anySelected(s"minhashTakedown n=$n")) {
      val dir = java.nio.file.Files.createTempDirectory("probe_mhtd").toString + "/idx"
      graft.llm.MinhashIndex.write(docs, "id", "text", dir)
      time(s"minhashTakedown n=$n ids=1000") {
        val ids = spark.range(0, 1000).select((col("id") * 137L).as("id"))
        graft.llm.MinhashIndex.delete(spark, dir, ids)
      }
    }
    // Orchestrated takedown: one id view through llm/Takedown across a
    // minhash index + both count stores (the three distinct cost shapes:
    // partition-rewrite, vocab-merge, vocab-merge+model). The pin: the
    // one-call orchestration costs the SUM of its per-store primitives
    // plus bounded preflight (ids agg + one range-bounded corpus join) —
    // batch-shaped, never corpus-shaped.
    if (anySelected(s"orchestratedTakedown n=$n")) {
      val labeled = graft.core.Lineage.pin(docs
        .withColumn("label",
          when(pmod(col("id"), lit(3)) === 0, lit("promo")).otherwise(lit("clean"))))
      val base = java.nio.file.Files.createTempDirectory("probe_otd").toString
      graft.llm.MinhashIndex.write(labeled, "id", "text", s"$base/idx")
      graft.llm.WordCounts.write(labeled, "text", s"$base/wc")
      graft.llm.NaiveBayes.write(
        graft.llm.NaiveBayes.train(labeled, "text", "label"), s"$base/nb")
      time(s"orchestratedTakedown n=$n ids=1000") {
        val ids = spark.range(0, 1000)
          .select((col("id") * lit(n / 1000)).as("id"))
        graft.llm.Takedown.run(spark, ids,
          minhashURI = s"$base/idx", countsURI = s"$base/wc",
          modelURI = s"$base/nb", corpus = Some(labeled), corpusIdCol = "id",
          textCol = "text", labelCol = "label",
          auditURI = s"$base/audit").count()
      }
    }
    // Video pipeline: MJPEG clips are generated in-executor (the probe's
    // workload IS the codec work — 5 JPEG frames per doc), then decoded,
    // frame-sampled and transcoded. n/20 docs keeps the probe minutes-free
    // while still far above the battery scale.
    if (anySelected(s"videoPipeline n=${n / 20}")) {
      val clips = spark.range(0, n / 20).select(col("id")).as[Long](
          org.apache.spark.sql.Encoders.scalaLong)
        .map { id =>
          val frames = (0 until 5).map { f =>
            val img = new java.awt.image.BufferedImage(
              24, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val shade = ((id + f) % 256).toInt
            val rgb = (shade << 16) | (shade << 8) | shade
            (0 until 24).foreach(x => (0 until 16).foreach(y => img.setRGB(x, y, rgb)))
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpeg", bos)
            bos.toByteArray
          }
          (id, graft.llm.Multimodal.buildMjpegAvi(frames, 24, 16, 25))
        }(org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.BINARY))
        .toDF("id", "blob")
      val pinned = graft.core.Lineage.pin(clips)
      time(s"videoDecode n=${n / 20}") {
        graft.llm.Multimodal.decodeAndFeaturize(pinned, "blob")
          .filter(col("media_meta.mime") === "video/x-msvideo").count()
      }
      time(s"videoFrames n=${n / 20} x3") {
        graft.llm.Multimodal.sampleFrames(pinned, "blob", 3).count()
      }
      time(s"videoTranscode n=${n / 20} -> 12x8") {
        graft.llm.Multimodal.transcodeVideo(pinned, "blob", 12, 8)
          .filter(col("transcode_status") === "transcoded").count()
      }
    }
    spark.stop()
  }
}
