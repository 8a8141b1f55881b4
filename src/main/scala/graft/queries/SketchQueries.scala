package graft
package queries

import org.apache.spark.sql.functions._
import QueryDef.{adaptive, fixed}

/** Approximate and robust statistics: sketches, histograms,
  * quantiles and outliers. */
private[queries] object SketchQueries {
  val all: Seq[QueryDef] = Seq(
    adaptive("q160_mad_outliers", "documents") { (spark, ctx, _) =>
      // Robust per-source outlier screen (llm/RobustStats): exact grouped
      // median + MAD from the slicedPrefix slice-rank engine — never
      // Spark's buffering percentile aggregate, never a per-group data
      // window — then robust_z = (v − median)/(1.4826·MAD). The oracle
      // reproduces median/MAD via quantile_cont (same PERCENTILE_CONT
      // interpolation, the convex (1−f)·vl + f·vu form) and the z/flag
      // arithmetic operation-for-operation, so doubles match bit-for-bit.
      import graft.llm.RobustStats
      RobustStats.madOutliers(
        ctx.view("documents").select(col("doc_id"), col("source"), col("n_chars")),
        Seq("source"), col("n_chars"), k = 3.0)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("median"), col("mad"), col("robust_z"), col("is_outlier"))
        .orderBy("doc_id")
    }.oracle(
      // quantile_cont shares PERCENTILE_CONT interpolation with
      // RobustStats.groupedQuantiles; z and flag arithmetic mirror the
      // Spark expressions operation-for-operation (IEEE-identical)
      """WITH med AS (
          SELECT source, quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS median
          FROM documents GROUP BY source),
        mad AS (
          SELECT d.source,
                 quantile_cont(abs(CAST(d.n_chars AS DOUBLE) - m.median), 0.5) AS mad
          FROM documents d JOIN med m USING (source) GROUP BY d.source)
        SELECT d.doc_id, d.source, d.n_chars, m.median, a.mad,
               CASE WHEN a.mad > 0
                 THEN (CAST(d.n_chars AS DOUBLE) - m.median) / (1.4826 * a.mad) END AS robust_z,
               CASE WHEN a.mad > 0
                 THEN abs((CAST(d.n_chars AS DOUBLE) - m.median) / (1.4826 * a.mad)) > 3.0
                 ELSE FALSE END AS is_outlier
        FROM documents d JOIN med m USING (source) JOIN mad a ON d.source = a.source
        ORDER BY d.doc_id"""),
    fixed("q162_grouped_quantiles", "documents") { (spark, ctx, _) =>
      // The general interpolation path of RobustStats.groupedQuantiles
      // (q160 exercises only p=0.5): four quantiles per source, including
      // non-trivial fractional positions, against DuckDB's quantile_cont —
      // the convex-form interpolation must match bit-for-bit.
      import graft.llm.RobustStats
      RobustStats.groupedQuantiles(
        ctx.view("documents").select(col("source"), col("n_chars")),
        Seq("source"), col("n_chars"), Seq(0.25, 0.5, 0.75, 0.9))
        .orderBy("source", "p")
    }.oracle(
      // one aggregate per quantile (quantile_cont needs a constant p),
      // stacked to the (source, p) shape groupedQuantiles emits
      """WITH q AS (
          SELECT source, 0.25 AS p, quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS q
          FROM documents GROUP BY source
          UNION ALL
          SELECT source, 0.5, quantile_cont(CAST(n_chars AS DOUBLE), 0.5)
          FROM documents GROUP BY source
          UNION ALL
          SELECT source, 0.75, quantile_cont(CAST(n_chars AS DOUBLE), 0.75)
          FROM documents GROUP BY source
          UNION ALL
          SELECT source, 0.9, quantile_cont(CAST(n_chars AS DOUBLE), 0.9)
          FROM documents GROUP BY source)
        SELECT source, CAST(p AS DOUBLE) AS p, q FROM q ORDER BY source, p"""),
    fixed("q149_bloom_membership", "documents") { (spark, ctx, _) =>
      // Bloom-filter membership (llm/BloomSketch): the mergeable bitmap
      // sketch next to HLL/CMS/histogram. Deterministic md5-prefix bit
      // positions → the oracle reproduces membership bit-for-bit (the
      // bitmap doesn't remember WHICH hash set a bit, so membership ≡ "all
      // k positions are in the set of positions any build key touched").
      // `ok` carries the no-false-negatives contract in-band.
      import graft.llm.BloomSketch
      val docs = ctx.view("documents")
      val members = docs.filter(col("doc_id") % 3 === 0)
      val sk = BloomSketch.build(members, col("doc_id"), bits = 65536L, hashes = 3)
      BloomSketch.mightContain(sk, docs.select(col("doc_id")), col("doc_id"),
          bits = 65536L, hashes = 3)
        .withColumn("is_member", col("doc_id") % 3 === 0)
        .withColumn("ok", col("might_contain") || !col("is_member"))
        .select("doc_id", "is_member", "might_contain", "ok")
        .orderBy("doc_id")
    }.oracle(
      // same Kirsch–Mitzenmacher positions as BloomSketch: (h1 + i·h2) mod
      // bits with h1/h2 the two 32-bit halves of one md5 (the CmsSketch
      // '0x'||hex8 trick, twice); the bitmap forgets which hash set a bit,
      // so membership ≡ every probe position ∈ the DISTINCT set of
      // positions touched at build time
      """WITH hs AS (SELECT unnest([0, 1, 2]) AS i),
        setbits AS (
          SELECT DISTINCT
                 (CAST('0x' || substr(md5(CAST(m.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                  + hs.i * CAST('0x' || substr(md5(CAST(m.doc_id AS VARCHAR)), 9, 8) AS BIGINT)) % 65536 AS p
          FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) m, hs),
        probes AS (
          SELECT d.doc_id,
                 (CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                  + hs.i * CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 9, 8) AS BIGINT)) % 65536 AS p
          FROM documents d, hs)
        SELECT pr.doc_id,
               pr.doc_id % 3 = 0 AS is_member,
               BOOL_AND(s.p IS NOT NULL) AS might_contain,
               BOOL_AND(s.p IS NOT NULL) OR NOT (pr.doc_id % 3 = 0) AS ok
        FROM probes pr LEFT JOIN setbits s ON s.p = pr.p
        GROUP BY pr.doc_id
        ORDER BY pr.doc_id"""),
    fixed("q150_bloom_antijoin", "lineitem", "orders") { (spark, ctx, _) =>
      // Decontamination shape at scale: drop every lineitem whose order is
      // in the urgent blocklist WITHOUT joining the full fact table — the
      // Bloom bitmap (broadcast, ≤ bits/64 words) discards definite-nots
      // locally; only maybes reach the exact anti-join, which scrubs the
      // false positives. Result is EXACTLY the anti-join — the oracle is
      // the plain NOT IN aggregate.
      import graft.llm.BloomSketch
      val li = ctx.view("lineitem")
      val urgent = ctx.view("orders")
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
      // 2^20 bits ≈ 17/key for sf0.1's ~60k urgent orders (fp ≈ 0.4%);
      // bits size only the pre-filter's selectivity — the result is exact
      // at any sizing, so the oracle (plain NOT IN) is unaffected
      BloomSketch.antiJoin(li, col("l_orderkey"), urgent, col("o_orderkey"),
          bits = 1L << 20, hashes = 3)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    }.oracle(
      // the Bloom pre-filter only prunes — the result is exactly the
      // anti-join, so the oracle needs no hashing at all
      """SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE l_orderkey NOT IN
          (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        GROUP BY l_returnflag
        ORDER BY l_returnflag"""),
    fixed("q152_hist_drift", "documents") { (spark, ctx, _) =>
      // Distribution-drift monitor (HistSketch.drift): TV + L∞ distance
      // between the English and non-English n_chars histograms, computed
      // from ≤bins-row segments in exact common-denominator DECIMAL
      // arithmetic (KL needs ln — not engine-safe; TV/L∞ are). COALESCE on
      // lang so NULL-lang rows land deterministically in the non-English
      // side in both engines.
      import graft.llm.HistSketch
      val docs = ctx.view("documents").filter(col("n_chars").isNotNull)
      val en = docs.filter(coalesce(col("lang"), lit("")) === "en")
      val rest = docs.filter(coalesce(col("lang"), lit("")) =!= "en")
      HistSketch.drift(
        HistSketch.segment(en, col("n_chars"), 0.0, 600.0, 32),
        HistSketch.segment(rest, col("n_chars"), 0.0, 600.0, 32))
    }.oracle(
      // same 3-IEEE-op binning as q142/q144; drift numerators in HUGEINT
      // (exact, mirroring Spark's DECIMAL(38,0)), one double division last
      """WITH ha AS (
          SELECT LEAST(31, GREATEST(0, CAST(FLOOR((CAST(n_chars AS DOUBLE) - 0.0) / 600.0 * 32) AS BIGINT))) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS ca
          FROM documents WHERE n_chars IS NOT NULL AND COALESCE(lang, '') = 'en'
          GROUP BY 1),
        hb AS (
          SELECT LEAST(31, GREATEST(0, CAST(FLOOR((CAST(n_chars AS DOUBLE) - 0.0) / 600.0 * 32) AS BIGINT))) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS cb
          FROM documents WHERE n_chars IS NOT NULL AND COALESCE(lang, '') <> 'en'
          GROUP BY 1),
        j AS (
          SELECT COALESCE(ha.bin, hb.bin) AS bin,
                 COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
          FROM ha FULL OUTER JOIN hb ON ha.bin = hb.bin),
        jc AS (
          SELECT bin, ca, cb,
                 SUM(ca) OVER (ORDER BY bin) AS cuma,
                 SUM(cb) OVER (ORDER BY bin) AS cumb
          FROM j),
        t AS (SELECT SUM(ca) AS ta, SUM(cb) AS tb FROM j)
        SELECT CAST(t.ta AS BIGINT) AS total_a, CAST(t.tb AS BIGINT) AS total_b,
               CAST(SUM(ABS(CAST(jc.ca AS HUGEINT) * t.tb - CAST(jc.cb AS HUGEINT) * t.ta)) AS DOUBLE)
                 / (CAST(t.ta AS DOUBLE) * CAST(t.tb AS DOUBLE)) / 2.0 AS tv,
               CAST(MAX(ABS(CAST(jc.ca AS HUGEINT) * t.tb - CAST(jc.cb AS HUGEINT) * t.ta)) AS DOUBLE)
                 / (CAST(t.ta AS DOUBLE) * CAST(t.tb AS DOUBLE)) AS linf,
               CAST(MAX(ABS(CAST(jc.cuma AS HUGEINT) * t.tb - CAST(jc.cumb AS HUGEINT) * t.ta)) AS DOUBLE)
                 / (CAST(t.ta AS DOUBLE) * CAST(t.tb AS DOUBLE)) AS ks
        FROM jc, t GROUP BY t.ta, t.tb"""),
    fixed("q157_heavy_hitters", "lineitem") { (spark, ctx, _) =>
      // Misra–Gries heavy hitters (llm/HeavyHitters): per-partition MG
      // summaries merged by key-sum — deterministic error bounds with
      // memory independent of key cardinality. Estimates are partition-
      // layout-dependent within the proven bounds → rows-only. The key is
      // deliberately skewed (70% of rows on 3 hot keys, the rest spread
      // across order keys) so true heavy hitters exist at every sf. Output:
      // one row per TRUE heavy hitter (count > n/(cap+1) — a deterministic
      // set). Self-verifying: `ok` asserts the hitter IS present in the
      // sketch, est ≤ true, the deficit bound (true−est)·(cap+1) ≤ n —
      // integer-exact — and (global soundness, folded into every row) est ≤
      // true for EVERY key the sketch reports.
      val cap = 16
      val li = ctx.view("lineitem")
      val keyed = li.select(
        when(col("l_orderkey") % 10 < 7,
          concat(lit("hot-"), (col("l_orderkey") % 3).cast("string")))
          .otherwise(concat(lit("cold-"), col("l_orderkey").cast("string"))).as("key"))
      val est = graft.llm.HeavyHitters.heavyHitters(keyed, col("key"), cap)
      val truth = keyed.groupBy("key").agg(count(lit(1)).as("cnt"))
      val n = keyed.count()
      val sound = est.join(truth, Seq("key"))
        .agg(min(col("est") <= col("cnt")).as("_sound"))
      truth.filter(col("cnt") * (cap + 1) > n)
        .join(est, Seq("key"), "left")
        .crossJoin(broadcast(sound))
        .select(col("key"), col("cnt"), col("est"),
          (col("est").isNotNull && col("est") <= col("cnt") &&
            (col("cnt") - col("est")) * (cap + 1) <= n && col("_sound")).as("ok"))
        .orderBy("key")
    }.selfChecked,
    fixed("q64_approx_sketches", "lineitem") { (spark, ctx, _) =>
      // HLL + approximate percentile: nondeterministic across engines by
      // design — rows-only, but self-verifying: the EXACT distinct count
      // rides next to the HLL estimate (bound: default rsd 0.05 → 3σ =
      // 15%), and the approximate median is verified by its exact RANK —
      // the fraction of rows at or below p50_approx must sit in
      // [0.45, 0.55]. The rank check is a hash aggregation over a second
      // scan (broadcast of 3 group rows), NOT an exact-percentile sort —
      // a per-group sort of the fact table is exactly the operation the
      // sketch exists to avoid, and was a 6× bench regression when tried.
      val li = ctx.view("lineitem")
      val sketched = li
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          count_distinct(col("l_partkey")).as("exact_parts"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("p50_approx"))
      val rankCheck = li
        .join(broadcast(sketched.select(col("l_returnflag"), col("p50_approx"))), Seq("l_returnflag"))
        .groupBy("l_returnflag")
        .agg((sum(when(col("l_extendedprice") <= col("p50_approx"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double")).as("_frac_below"))
      sketched
        .join(rankCheck, Seq("l_returnflag"))
        .select(
          col("l_returnflag"), col("approx_parts"), col("exact_parts"), col("p50_approx"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double") /
            col("exact_parts").cast("double") <= 0.15 &&
            col("_frac_below").between(0.45, 0.55)).as("ok"))
        .orderBy("l_returnflag")
    }.selfChecked,
    fixed("q142_hist_quantiles", "documents") { (spark, ctx, _) =>
      // Mergeable histogram quantiles (llm/HistSketch): doc-length
      // distribution binned 0..640 into 64 cells, p50/p90/p99 read off the
      // cumulative histogram. Deterministic binning (3 IEEE ops) → the
      // oracle rebuilds histogram and quantiles exactly.
      import graft.llm.HistSketch
      val hist = HistSketch.segment(ctx.view("documents"), col("n_chars"),
        lo = 0.0, hi = 640.0, bins = 64)
      HistSketch.quantiles(hist, Seq(0.5, 0.9, 0.99), lo = 0.0, hi = 640.0, bins = 64)
        .orderBy("p")
    }.oracle(
      // same binning arithmetic as HistSketch.binOf, same edge formula
      """WITH hist AS (
          SELECT LEAST(63, GREATEST(0,
                   CAST(FLOOR((CAST(n_chars AS DOUBLE) - 0.0) / 640.0 * 64) AS BIGINT))) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM documents GROUP BY 1),
        cum AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum FROM hist),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM hist),
        ps AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p)
        SELECT p, 0.0 + CAST(MIN(bin) + 1 AS DOUBLE) * 640.0 / 64 AS est
        FROM ps, cum, tot
        WHERE cum >= CEIL(p * CAST(n AS DOUBLE))
        GROUP BY p ORDER BY p"""),
    fixed("q144_grouped_hist", "documents") { (spark, ctx, _) =>
      // Per-source histogram quantiles (HistSketch.segmentBy/quantilesBy):
      // the length-distribution drift monitor — p50/p90 per corpus source,
      // read off per-group cumulative histograms. Binning arithmetic is
      // identical to q142 (3 correctly-rounded IEEE ops), so the oracle
      // rebuilds every group's histogram and quantiles exactly; all windows
      // are bounded by groups × bins, never by data.
      import graft.llm.HistSketch
      val hist = HistSketch.segmentBy(ctx.view("documents"), Seq("source"),
        col("n_chars"), lo = 0.0, hi = 640.0, bins = 64)
      HistSketch.quantilesBy(hist, Seq("source"), Seq(0.5, 0.9),
        lo = 0.0, hi = 640.0, bins = 64)
        .orderBy("source", "p")
    }.oracle(
      // q142's binning arithmetic with PARTITION BY source — same bins,
      // same edge formula, per-group cumulative reach
      """WITH hist AS (
          SELECT source, LEAST(63, GREATEST(0,
                   CAST(FLOOR((CAST(n_chars AS DOUBLE) - 0.0) / 640.0 * 64) AS BIGINT))) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM documents GROUP BY 1, 2),
        cum AS (SELECT source, bin, SUM(cnt) OVER (PARTITION BY source ORDER BY bin) AS cum FROM hist),
        tot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM hist GROUP BY 1),
        ps AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS p)
        SELECT c.source, p, 0.0 + CAST(MIN(c.bin) + 1 AS DOUBLE) * 640.0 / 64 AS est
        FROM cum c JOIN tot t ON c.source = t.source CROSS JOIN ps
        WHERE c.cum >= CEIL(p * CAST(t.n AS DOUBLE))
        GROUP BY c.source, p ORDER BY c.source, p"""),
    fixed("q141_cms_frequency", "lineitem") { (spark, ctx, _) =>
      // Count-min sketch (llm/CmsSketch): per-supplier frequency estimates
      // from a 4×256 matrix (width deliberately small so collisions occur
      // and the one-sided error is exercised). Deterministic md5 hashing →
      // the oracle rebuilds the identical matrix; `ok` carries the CMS
      // guarantee est ≥ exact in-band.
      import graft.llm.CmsSketch
      val li = ctx.view("lineitem")
      val sk = CmsSketch.build(li, col("l_suppkey"), depth = 4, width = 256)
      val exact = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("exact_cnt"))
      CmsSketch.estimate(sk, exact, col("l_suppkey"), depth = 4, width = 256)
        .withColumn("ok", col("est") >= col("exact_cnt"))
        .orderBy("l_suppkey")
    }.oracle(
      // same md5-mod layout as CmsSketch.bucket: '0x'||hex8 cast ≡ Spark's
      // conv(hex8,16,10) — both the unsigned 32-bit prefix
      """WITH ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
        sk AS (
          SELECT ds.d AS d,
                 CAST('0x' || substr(md5(CAST(l_suppkey AS VARCHAR) || ':' || CAST(ds.d AS VARCHAR)), 1, 8) AS BIGINT) % 256 AS b,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM lineitem, ds GROUP BY 1, 2),
        exact AS (
          SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS exact_cnt
          FROM lineitem GROUP BY 1),
        probe AS (
          SELECT e.l_suppkey, e.exact_cnt, ds.d AS d,
                 CAST('0x' || substr(md5(CAST(e.l_suppkey AS VARCHAR) || ':' || CAST(ds.d AS VARCHAR)), 1, 8) AS BIGINT) % 256 AS b
          FROM exact e, ds)
        SELECT p.l_suppkey, p.exact_cnt,
               MIN(COALESCE(s.cnt, 0)) AS est,
               MIN(COALESCE(s.cnt, 0)) >= p.exact_cnt AS ok
        FROM probe p LEFT JOIN sk s ON s.d = p.d AND s.b = p.b
        GROUP BY 1, 2
        ORDER BY 1"""),
  )
}
