package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import graft.core.Bucketing

/** Physical-plan assertions: the plans the 100 TB design depends on must stay
  * the plans Catalyst actually produces.
  */
class PlanSpec extends SparkSpec {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q02: filters push down to the parquet scan and columns are pruned") {
    val plan = formatted(SparkEntry.queries("q02_filter_project")(spark, sf()))
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") || plan.contains("IsNotNull(l_shipdate"), plan)
    // projection needs 6 columns; the scan must not read all 11
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema:")).getOrElse("")
    assert(!readSchema.contains("l_returnflag") && !readSchema.contains("l_tax"), readSchema)
  }

  test("q30: dimensions broadcast — the fact table never shuffles for the join") {
    val plan = formatted(SparkEntry.queries("q30_join_broadcast_star")(spark, sf()))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q45: the as-of window is hash-partitioned, not single-partition") {
    val plan = formatted(SparkEntry.queries("q45_asof_join")(spark, sf()))
    assert(plan.contains("hashpartitioning(_bkt"), plan)
    // the only SinglePartition exchange feeds the bucket-LEVEL carry pass
    // (rows = distinct months), inside the broadcast subtree
    val singles = plan.linesIterator.count(_.contains("SinglePartition"))
    assert(singles <= 1, s"$singles single-partition exchanges:\n$plan")
  }

  // formatted explain: exchanges appear as numbered node headers "(N) Exchange";
  // their partitioning is in the details section ("Arguments: hashpartitioning(…")
  private def exchanges(plan: String): Int =
    "\\(\\d+\\) Exchange".r.findAllIn(plan).size

  test("hashSample is a pure narrow map — zero exchanges") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val plan = formatted(graft.llm.Sampling.hashSample(docs, org.apache.spark.sql.functions.col("doc_id"), 0.1, "s"))
    assert(exchanges(plan) == 0, plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("packGreedy shuffles exactly once — the shard co-location repartition") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .withColumn("_shard", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"), org.apache.spark.sql.functions.lit(8)))
    val packed = graft.llm.Packing.packGreedy(docs, "_shard", "doc_id", "n_chars", 4096)
    val plan = formatted(packed)
    assert(exchanges(plan) == 1, s"expected exactly 1 exchange:\n$plan")
    assert(plan.contains("hashpartitioning(_shard"), plan)
    // the shard sort must be partition-local, not a global range sort
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("packTokenIds: one keyed exchange (prefix sum, reused by window assembly), no SinglePartition") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("_shard"),
        transform(sequence(lit(0L), lit(9L)), i => col("doc_id") * 100 + i).as("_ids"))
    val packed = graft.llm.Packing.packTokenIds(
      docs, "doc_id", "_shard", "doc_id", "_ids", contextLen = 64)
    val plan = formatted(packed)
    // ONE exchange total: the shard prefix-sum window hash-partitions on
    // _shard, and Catalyst reuses that partitioning for the (shard, seq)
    // assembly aggregate (shard-partitioning co-locates every window of a
    // shard) — token ids cross the wire exactly once, as designed
    assert(exchanges(plan) == 1, s"expected exactly 1 exchange:\n$plan")
    assert(plan.contains("hashpartitioning(_shard"), plan)
    assert(!plan.contains("SinglePartition"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("minhashPairs keeps its load-bearing signature exchange on _id") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val pairs = graft.llm.Dedup.minhashPairs(docs, "doc_id", "text")
    val plan = formatted(pairs)
    // exactly one repartition(_id): it materializes (_id, _sh, _sig) once —
    // without it Catalyst collapses the projections and recomputes the
    // whole shingle+minhash expression per band (measured ~60× slower)
    val idExchanges = plan.linesIterator.count(_.contains("hashpartitioning(_id"))
    assert(idExchanges >= 1, s"signature repartition collapsed away:\n$plan")
    // The signature must only ever be computed BELOW its repartition — one
    // aggregate(transform(…)) per _id exchange, never inlined into the band
    // explode (the round-3 ~60× cliff). The static AQE plan prints the
    // materialization subtree once per consuming branch; at runtime those
    // identical exchanges dedupe (ReusedExchange, asserted below).
    val sigComputations = "aggregate\\(transform\\(".r.findAllIn(plan).size
    assert(sigComputations <= idExchanges,
      s"minhash signature computed $sigComputations times but only $idExchanges _id exchanges:\n$plan")
    pairs.collect() // finalize THIS QueryExecution's adaptive plan
    val executed = pairs.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") || idExchanges == 1,
      s"duplicate signature exchanges not reused at runtime:\n$executed")
  }

  test("weightedHashSample is a pure narrow map — zero exchanges") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val plan = formatted(graft.llm.Sampling.weightedHashSample(
      docs, org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("n_chars").cast("double") / 1000.0, "w"))
    assert(exchanges(plan) == 0, plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("q96: the label filter pushes into the corpus scan below the ANN scoring") {
    val plan = formatted(SparkEntry.queries("q96_filtered_ann")(spark, sf()))
    // predicate reaches the parquet source, not a post-scan Filter only
    assert(plan.contains("PushedFilters: [In(label"), plan)
    // corpus side never shuffles for the scoring join (broadcast queries)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("q103: EXISTS/NOT EXISTS plan as hash semi/anti joins — no nested loops") {
    val plan = formatted(SparkEntry.queries("q103_late_supplier_chain")(spark, sf()))
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q104: the correlated scalar MIN decorrelates — joins only, no per-row subquery") {
    val plan = formatted(SparkEntry.queries("q104_min_cost_supplier")(spark, sf()))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    // the decorrelated MIN shows up as an aggregate keyed on the join column
    assert(plan.contains("HashAggregate"), plan)
  }

  test("q105: every dimension broadcasts — the fact table never shuffles pre-agg") {
    val plan = formatted(SparkEntry.queries("q105_profit_by_nation")(spark, sf()))
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.linesIterator.count(_.contains("BroadcastHashJoin")) >= 4, plan)
  }

  test("q101: resample windows are key-partitioned, never SinglePartition") {
    val plan = formatted(SparkEntry.queries("q101_resample_interpolate")(spark, sf()))
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.contains("hashpartitioning(user_id"), plan)
  }

  test("q99: the segment-frequency shuffle is keyed on the hash, text never exchanges") {
    val plan = formatted(SparkEntry.queries("q99_segment_dedup")(spark, sf()))
    assert(plan.contains("hashpartitioning(_h"), plan)
    // the only columns alive at any exchange are the id and the segment hash
    val exchangeArgs = plan.linesIterator.filter(_.contains("hashpartitioning(")).mkString("\n")
    assert(!exchangeArgs.contains("text"), exchangeArgs)
  }

  test("q151: LM-scoring exchanges carry (id, grams, counts) — never document text") {
    val plan = formatted(SparkEntry.queries("q151_lm_novelty")(spark, sf()))
    // walk each ALGORITHMIC Exchange node's detail block: its Input column
    // list is the schema that actually crosses the wire — none may include
    // `text`. The r19 adaptive input-split repartition (SparkEntry
    // scanPartitions) is a RoundRobinPartitioning/REPARTITION_BY_NUM
    // exchange that legitimately carries the just-scanned rows — it exists
    // only when the file layout cannot reach the session's parallelism
    // (never at production scale) — so round-robin blocks are excluded:
    // the pin is that the LM ALGORITHM's shuffles (hash/range) move grams
    // and counts, never the document text.
    val lines = plan.linesIterator.toVector
    val nodeHeader = "^\\(\\d+\\) (.*)$".r
    var inExchange = false
    val exchangeDetail = new StringBuilder
    val block = new StringBuilder
    def flush(): Unit = {
      if (!block.toString.contains("RoundRobinPartitioning"))
        exchangeDetail.append(block)
      block.clear()
    }
    for (l <- lines) l.trim match {
      case nodeHeader(name) =>
        flush()
        inExchange = name.startsWith("Exchange")
        if (inExchange) block.append(l).append('\n')
      case body =>
        if (inExchange) block.append(body).append('\n')
    }
    flush()
    val detail = exchangeDetail.toString
    assert(detail.nonEmpty, plan)
    assert(!detail.contains("text"), s"document text crossed an exchange:\n$detail")
  }

  test("line filter and int8 quantization are pure narrow maps — zero exchanges") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val lfPlan = formatted(graft.llm.LineFilter.clean(docs, "doc_id", "text"))
    assert(exchanges(lfPlan) == 0, lfPlan)
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val qPlan = formatted(graft.llm.Quantize.quantStats(emb, "vec_id", "embedding"))
    assert(exchanges(qPlan) == 0, qPlan)
    assert(!qPlan.contains("SinglePartition"), qPlan)
  }

  test("segmentClean: frequency exchange carries hashes, reassembly is keyed by id") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val plan = formatted(
      graft.llm.Dedup.segmentClean(docs, "doc_id", "text", segWords = 8, maxDocFreq = 1L))
    // frequency table is built from (id, hash) only — its exchange must not
    // carry segment text; the reassembly aggregate is keyed on doc_id
    assert(plan.contains("hashpartitioning(_h"), plan)
    assert(plan.contains("hashpartitioning(doc_id"), plan)
    val freqExchange = plan.linesIterator
      .filter(l => l.contains("hashpartitioning(_h")).mkString("\n")
    assert(!freqExchange.contains("_seg"), freqExchange)
  }

  test("globalPosition never plans a SinglePartition window over the data") {
    import org.apache.spark.sql.functions.{col, concat, lit, md5}
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").select("doc_id")
    // pin = false exposes the full logical shape to the plan assertions
    // (the default pin checkpoints the ranged frame, which truncates the
    // visible plan at the checkpoint scan)
    val unpinned = graft.core.GlobalOrder.withGlobalPosition(
      docs, Seq(md5(concat(col("doc_id").cast("string"), lit("s"))), col("doc_id")),
      pin = false)
    val plan = formatted(unpinned)
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.contains("rangepartitioning"), plan)
    // default (pinned) path: window side must still avoid SinglePartition
    val ranked = graft.core.GlobalOrder.withGlobalPosition(
      docs, Seq(md5(concat(col("doc_id").cast("string"), lit("s"))), col("doc_id")))
    assert(!formatted(ranked).contains("SinglePartition"))
    // positions are the exact permutation 0..n-1
    val pos = ranked.select("pos").collect().map(_.getLong(0)).sorted
    assert(pos.toSeq == (0L until pos.length).toSeq)
  }

  test("globalPosition executes a nondeterministic upstream exactly once") {
    import org.apache.spark.sql.functions.{col, udf}
    // Nondeterministic upstream: per-execution random sort keys mean a
    // recomputation would range-partition differently between the offsets
    // job and the window job. The accumulator proves single execution; the
    // permutation + rank checks prove the numbering is still exact.
    val acc = spark.sparkContext.longAccumulator("rowsSeen")
    val noise = udf(() => scala.util.Random.nextDouble()).asNondeterministic()
    val seen = udf((id: Long) => { acc.add(1L); id })
    val n = 500L
    val base = spark.range(0, n).toDF("id")
      .withColumn("id", seen(col("id")))
      .withColumn("_r", noise())
      .repartition(7, col("_r"))
      .drop("_r")
    val ranked = graft.core.GlobalOrder.withGlobalPosition(
      base, Seq(col("id")), numPartitions = Some(5))
    val rows = ranked.collect().map(r => r.getLong(0) -> r.getLong(1))
    // one materialization = n row-reads (the range exchange's boundary
    // sampling reads the upstream's first shuffle OUTPUT, not the UDF
    // projection); an unpinned recompute would double this
    assert(acc.value == n, s"upstream executed ${acc.value} row-reads for $n rows")
    assert(rows.map(_._2).sorted.toSeq == (0L until n).toSeq)
    // total order by id ⇒ pos must equal id itself
    assert(rows.forall { case (id, pos) => id == pos })
  }

  test("q130: edit-distance near-dup plans a blocked equi-join, never a cross product") {
    // The length-bucket key must carry the join; the doc_id inequality and
    // the levenshtein threshold ride as join/post filters. An unblocked
    // CartesianProduct/BNLJ here is exactly the quadratic shape the
    // blocking exists to prevent — at corpus scale it would be fatal.
    val plan = formatted(SparkEntry.queries("q130_editdist_neardup")(spark, sf()))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q138: the disjunctive predicates keep the equi-join and push the brand/size OR to the part scan") {
    // TPC-H Q19 shape: the OR of three conjunct groups spans both join
    // sides. Catalyst must still join on l_partkey (hash join, never a
    // nested loop over the disjunction) and extract the part-only
    // disjunction (brand = X AND size <= Y, OR'd) as a pushed scan filter
    // — at 100 TB that filter is the difference between scanning 3 brands'
    // row groups and scanning the whole part table.
    val plan = formatted(SparkEntry.queries("q138_tpch_q19_disjunctive")(spark, sf()))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // formatted explain puts the file path on the node's Location: line —
    // find the scan's detail block by splitting on blank lines
    val partScan = plan.split("\n\n")
      .find(b => b.contains("Scan parquet") && b.contains("part.parquet"))
      .getOrElse("")
    assert(partScan.contains("Or(") && partScan.contains("PushedFilters") &&
      partScan.contains("p_brand"),
      s"part scan missing pushed disjunction:\n$partScan\n\nfull plan:\n$plan")
    // the lineitem side gets its own implied quantity disjunction
    val lineScan = plan.split("\n\n")
      .find(b => b.contains("Scan parquet") && b.contains("lineitem.parquet"))
      .getOrElse("")
    assert(lineScan.contains("Or(") && lineScan.contains("l_quantity"),
      s"lineitem scan missing implied quantity disjunction:\n$lineScan")
  }

  test("q209: all three Q6 predicates reach the lineitem scan") {
    // TPC-H Q6 is a pure scan benchmark: date range, discount band and
    // quantity cap must ALL land in PushedFilters so shipdate-sorted row
    // groups prune — at 100 TB this query is the filter pushdown, there
    // is nothing else to it.
    val plan = formatted(SparkEntry.queries("q209_tpch_q6_forecast_revenue")(spark, sf()))
    val scan = plan.split("\n\n")
      .find(b => b.contains("Scan parquet") && b.contains("lineitem.parquet"))
      .getOrElse("")
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(scan.contains("PushedFilters") && scan.contains(c),
        s"$c not pushed to the lineitem scan:\n$scan"))
  }

  test("q126: the revenue view's global MAX is a subquery over the agg, not a rescan of lineitem") {
    // TPC-H Q15 shape: lineitem must be scanned for the revenue agg; the
    // MAX comparison is a scalar subquery/join over the tiny grouped view.
    val plan = formatted(SparkEntry.queries("q126_tpch_q15_top_supplier")(spark, sf()))
    val scans = plan.linesIterator.count(l => l.contains("lineitem.parquet") && l.contains("Scan"))
    assert(scans <= 2, s"lineitem scanned $scans times:\n$plan")
  }

  test("runtime bloom filter: a selective dim filter reaches the fact scan side") {
    // At 100 TB the shuffle join's fact side should be pre-filtered by a
    // bloom filter built from the filtered dimension (Spark's
    // InjectRuntimeFilter). Local datasets sit under the production size
    // thresholds, so the thresholds are lowered to observe the rewrite —
    // the assertion is that our join SHAPES are eligible (equi-join keys,
    // selective creation-side predicate), which is what survives scale-up.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    def joined = {
      val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
      val ords = spark.read.parquet(s"${sf()}/orders.parquet")
        .filter(org.apache.spark.sql.functions.col("o_totalprice") > 400000)
      li.join(ords, li("l_orderkey") === ords("o_orderkey"))
    }
    val expected = joined.count() // default plan, no runtime filter
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val j = joined
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"no runtime bloom filter injected on the fact side:\n$opt")
      assert(opt.contains("bloom_filter_agg"),
        s"no bloom filter built from the filtered dim:\n$opt")
      assert(j.count() == expected) // the rewrite must not change results
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucketed tables sort-merge join with zero exchange") {
    val orders = spark.read.parquet(s"${sf()}/orders.parquet")
    val lineitem = spark.read.parquet(s"${sf()}/lineitem.parquet")
    Bucketing.writeBucketed(orders, "orders_b", Seq("o_orderkey"), 8)
    Bucketing.writeBucketed(lineitem, "lineitem_b", Seq("l_orderkey"), 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          spark.table("lineitem_b")("l_orderkey") === spark.table("orders_b")("o_orderkey"))
      val plan = formatted(joined)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)
      // and it computes the right thing
      assert(joined.count() == lineitem.join(orders,
        lineitem("l_orderkey") === orders("o_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("BucketedTableLoad stage writes a co-located-joinable table from a config cell") {
    val ctx = new graft.core.PipelineContext(spark)
    val hocon =
      s"""{stages: [
        {type = "ParquetExtract", name = "e1", inputURI = "${sf()}/orders.parquet", outputView = bt_orders}
        {type = "BucketedTableLoad", name = "b1", inputView = bt_orders, table = "orders_bt",
         bucketByFields = [o_orderkey], numBuckets = 8}
        {type = "ParquetExtract", name = "e2", inputURI = "${sf()}/lineitem.parquet", outputView = bt_lineitem}
        {type = "BucketedTableLoad", name = "b2", inputView = bt_lineitem, table = "lineitem_bt",
         bucketByFields = [l_orderkey], numBuckets = 8}
      ]}"""
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      graft.core.Runner.run(graft.core.PipelineConfig.parse(hocon), ctx)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = formatted(spark.sql(
        "SELECT * FROM lineitem_bt JOIN orders_bt ON l_orderkey = o_orderkey"))
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), s"stage-written bucketed join shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_bt")
      spark.sql("DROP TABLE IF EXISTS lineitem_bt")
    }
  }

  test("exact samplers: no window partitioned solely by the group column over the data") {
    // The hot-group guarantee: a dominant source (90% of the corpus) must
    // never sort inside one task. Every Window in the sampler plans either
    // partitions by (slice, group) — the parallel per-slice rank — or runs
    // over the per-(slice, group) counts Aggregate, which is bounded by
    // #partitions + #groups rows, never by data.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val outs = Seq(
      graft.llm.Sampling.stratifiedExact(docs, Seq("source"), col("doc_id"), 0.1, "z"),
      graft.llm.Sampling.mixtureExact(docs, "source", Map("src0" -> 0.5), 0.05, col("doc_id")),
      graft.llm.Sampling.temperatureSample(docs, "lang", 3, col("doc_id")))
    outs.foreach { out =>
      val windows = out.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(windows.nonEmpty)
      windows.foreach { w =>
        val overCounts = w.child.collectFirst { case a: Aggregate => a }.isDefined
        assert(w.partitionSpec.size >= 2 || overCounts,
          s"window over raw data partitioned only by ${w.partitionSpec}:\n${out.queryExecution}")
      }
      assert(!formatted(out).contains("SinglePartition"))
    }
  }

  test("weightedInterleave never plans a SinglePartition window over the data") {
    // the global enumeration must stay the range-partitioned GlobalOrder
    // shape even composed behind the sliced per-source rank
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val out = graft.llm.Interleave.weightedInterleave(
      docs, "source", Map("src0" -> 4.0), 1.0, col("doc_id"), "p")
    assert(!formatted(out).contains("SinglePartition"), formatted(out))
  }

  test("groupCap: the literal cap rewrites into a WindowGroupLimit pre-shuffle prune") {
    // InferWindowGroupLimit turns `row_number <= <literal>` into a
    // WindowGroupLimit below the window: each map partition keeps ≤ cap rows
    // per group BEFORE the shuffle, so a hot group ships ≤ cap × #partitions
    // rows — the bound the groupCap scaladoc promises.
    import org.apache.spark.sql.functions.col
    val orders = spark.read.parquet(s"${sf()}/orders.parquet")
    val plan = formatted(
      graft.llm.Sampling.groupCap(orders, Seq("o_orderpriority"), Seq(col("o_orderkey")), 50))
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("html extract / langid / total-encode are single-stage projections: zero exchanges") {
    // the whole-text expressions must price like a scan — any Exchange in
    // these plans means a narrow op silently grew a shuffle
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val html = formatted(graft.llm.HtmlText.htmlToText(
      docs.select(col("doc_id"), col("text").as("h")), "h"))
    assert(!html.contains("Exchange"), html)
    val lang = formatted(docs.select(graft.llm.LangId.languageIdNgram(col("text"))))
    assert(!lang.contains("Exchange"), lang)
    val enc = formatted(graft.llm.Bpe.encodeIdsTotal(
      docs, "text", Seq(("a", "b")),
      graft.llm.Bpe.vocabTotal(docs.limit(20), "text", Seq(("a", "b")))))
    assert(!enc.contains("Exchange"), enc)
  }

  test("span dedup plans equi-joins only — no cartesian, grams built in-row ONCE") {
    // the window-hash formulation must never plan a cross product (dup
    // matching keys on the hash) and the gram construction must be a
    // generator over an in-row transform. r19: the duplicate marking is a
    // min-over-hash Window, so the gram explode — the operator's dominant
    // per-task compute — must appear in the plan EXACTLY once (the former
    // aggregate + join-back shape evaluated it twice, once per side).
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val plan = formatted(graft.llm.SpanDedup.dedupSpans(docs, "doc_id", "text", k = 8))
    assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"), plan)
    val gramGenerates = "posexplode".r.findAllIn(plan).length
    assert(gramGenerates == 1,
      s"expected the gram explode to be planned exactly once, got $gramGenerates:\n$plan")
  }

  test("takedown discovery's range bound reaches the parquet scan as pushed filters") {
    // deleteMatching's discovery filters the id column with between(min,
    // max) + isin — the range bound is the part that must reach parquet
    // row-group stats (the isin literal only pushes under the small In
    // threshold, and a semi join pushes nothing). Pin the mechanism on
    // the same filter shape over a parquet table.
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("tdplan").toString + "/t"
    spark.range(100).select(col("id")).write.parquet(dir)
    val plan = formatted(spark.read.parquet(dir)
      .filter(col("id").between(40L, 49L) &&
        col("id").isin((40L until 90L).map(java.lang.Long.valueOf): _*)))
    assert(plan.contains("GreaterThanOrEqual(id,40)") &&
      plan.contains("LessThanOrEqual(id,49)"),
      s"range bound not pushed:\n$plan")
  }

  test("Takedown.recoverRows joins with a pushed range bound and broadcast ids") {
    // the ids→text corpus join (id-addressed count-store takedown) must
    // (a) bound the corpus scan by the ids' [min, max] so row-group stats
    // prune — the cast(long) wrapper must not defeat the pushdown
    // (UnwrapCastInBinaryComparison) — and (b) broadcast the
    // takedown-sized id side, never shuffle the corpus. Pin the mechanism
    // on recoverRows' exact join shape over a parquet-backed corpus
    // (recoverRows itself returns the PINNED result, whose executed plan
    // is a scan of the materialized rows).
    import org.apache.spark.sql.functions.{broadcast, col, concat, lit}
    val dir = java.nio.file.Files.createTempDirectory("tdrecover").toString + "/corpus"
    spark.range(1000).select(col("id").cast("int").as("doc_id"),
      concat(lit("text "), col("id")).as("text")).write.parquet(dir)
    val corpus = spark.read.parquet(dir)
    import spark.implicits._
    val idsNorm = Seq(100L, 150L, 199L).toDF("_takedown_id")
    val plan = formatted(
      corpus.withColumn("_takedown_id", col("doc_id").cast("long"))
        .filter(col("_takedown_id").between(100L, 199L))
        .join(broadcast(idsNorm), Seq("_takedown_id"), "left_semi"))
    assert(plan.contains("GreaterThanOrEqual(doc_id,100)") &&
      plan.contains("LessThanOrEqual(doc_id,199)"),
      s"range bound not pushed through the long cast:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"ids must broadcast into a semi join:\n$plan")
    // and the real recoverRows returns exactly the matched rows
    val ids = graft.llm.IndexCompact.normalizeIds(
      Seq(100L, 150L, 199L).toDF("doc_id"))
    val got = graft.llm.Takedown.recoverRows(ids, corpus, "doc_id")
      .select("doc_id").collect().map(_.getInt(0)).sorted.toSeq
    assert(got == Seq(100, 150, 199), got.toString)
  }

  test("NaiveBayes.predict: ONE corpus scan, model joins broadcast, no SinglePartition") {
    // at 100 TB the text column dominates IO — predict must read it once
    // (explode_outer carries the token stream, the per-doc count AND the
    // empty-doc prior fallback off one projection), join the model only
    // as broadcasts, and shuffle only on keys
    import org.apache.spark.sql.functions.{col, when, lit}
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val labeled = docs.withColumn("label",
      when(col("doc_id") % 2 === 0, lit("a")).otherwise(lit("b")))
    val m = graft.llm.NaiveBayes.train(labeled, "text", "label")
    // pin the model as local frames first (train-side plan not under test)
    import spark.implicits._
    val mLocal = graft.llm.NaiveBayes.Model(
      m.classTable.as[(String, Long, Long)].collect().toSeq
        .toDF("label", "n_docs", "n_tokens"),
      m.tokenTable.as[(String, String, Long)].collect().toSeq
        .toDF("label", "token", "cnt"))
    val plan = formatted(
      graft.llm.NaiveBayes.predict(docs, "doc_id", "text", mLocal))
    // the only parquet source in this plan IS the corpus; a node header
    // "(N) Scan parquet" appears once in the tree and once in the details,
    // so count DISTINCT node ids
    val scans = "\\((\\d+)\\) Scan parquet".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(scans.size == 1, s"${scans.size} corpus scans (want 1):\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }
}
