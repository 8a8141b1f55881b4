package graft

import graft.queries.{Check, Registry}

/** Smoke coverage: every SparkEntry query must run and return rows at
  * sf0.001, and every oracle key must exist in queries. The value-level
  * DuckDB comparison is the driver's job (and tools/selfcheck.py locally).
  */
class QueriesSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry names are unique: no query is dropped by a repeated name") {
    val repeated = Registry.all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(repeated.isEmpty, s"names declared more than once: $repeated")
  }

  test("oracleSql keys are a subset of queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle keys without queries: $missing")
  }

  // legitimately empty at tiny scale: every customer has orders; the synthetic
  // documents may have no pairs above the LSH similarity threshold
  private val mayBeEmpty = Set("q06_join_anti_notexists", "q16_except", "q46_similarity_join_lsh")

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, sf())
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
      assert(df.columns.nonEmpty)
    }
  }

  // The queries without a DuckDB oracle (LSH / approx sketches / binary
  // decode) are SELF-verifying instead: each emits an `ok` column carrying
  // its own internal invariant (exact Jaccard/Hamming/cosine vs threshold,
  // HLL/percentile error bounds, brute-force score parity, codec contract).
  // This is the enforcement: no row may fail its own invariant.
  private val selfVerifying = Registry.all.collect {
    case q if q.check == Check.SelfChecked => q.name
  }

  for (name <- selfVerifying) {
    test(s"$name: every row passes its own invariant (ok column)") {
      val df = SparkEntry.queries(name)(spark, sf())
      assert(df.columns.contains("ok"), s"$name lost its ok column")
      // NULL ok counts as FAILING: a three-valued invariant (e.g. a left
      // join miss) must not slip past the gate
      val bad = df.filter(!org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.col("ok"),
        org.apache.spark.sql.functions.lit(false))).count()
      assert(bad == 0, s"$name has $bad rows failing their own invariant")
    }
  }

  test("q62_similarity_ivf: ANN hits rank near the brute-force top at sf0.001") {
    import org.apache.spark.sql.functions.col
    val df = SparkEntry.queries("q62_similarity_ivf")(spark, sf())
    val n = df.count()
    val near = df.filter(col("bf_rank") <= 10).count()
    // nprobe=2 of nlist=16 — recall isn't 1.0 by design, but the majority
    // of returned neighbors must sit in the true top-10
    assert(near * 2 >= n, s"only $near of $n IVF hits are in the brute-force top-10")
  }
}
