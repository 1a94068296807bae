package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the one-record-per-query registry and the Harness
  * filters built on it. No session needed: these are pure checks. */
class RegistrySpec extends AnyFunSuite {
  private val registry = SparkEntry.registry

  test("QueryDef names are unique, and a duplicate fails the index") {
    val dups = registry.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    assert(dups.isEmpty, s"duplicate registry names: $dups")
    assert(SparkEntry.queries.size == registry.size)
    // a name-keyed view must never silently keep one of two records
    val e = intercept[IllegalArgumentException](QueryDef.index(registry :+ registry.head))
    assert(e.getMessage.contains(registry.head.name))
  }

  test("the baseline records are exactly the r1 BASELINE.md 44-query set") {
    val pinned = Set(
      "d01_exact_dedup", "d02_dup_groups", "d03_ngram_jaccard",
      "d04_minhash_lsh", "d05_simhash_pairs", "e01_hourly",
      "e02_sessions", "e03_top_users", "m01_media_meta",
      "m02_decode_features", "m03_frames", "q01_pricing_summary",
      "q02_revenue_forecast", "q03_top_revenue_orders",
      "q04_region_nation_revenue", "q05_top_orders_per_customer",
      "q06_first_order_per_customer", "q07_skip_take", "q08_takewhile",
      "q09_distinct_consecutive", "q10_rollup", "q11_json_props",
      "q12_monthly_orders", "q13_part_strings", "q14_running_spend",
      "q15_count_distinct", "q16_chunked", "q17_anti_join",
      "q18_semi_join", "q19_union", "q20_group_concat", "q21_cube",
      "q22_intersect", "q23_except", "q24_approx_distinct",
      "q25_quantiles", "s01_brute_topk", "s02_lsh_topk",
      "s03_label_stats", "s04_native_topk", "t01_token_stats",
      "t02_quality", "t03_langid", "t04_fingerprints")
    val flagged = registry.filter(_.baseline).map(_.name)
    assert(flagged.size == 44)
    assert(flagged.toSet == pinned)
  }

  test("Harness selection rejects an unknown ONLY or SKIP name before any work") {
    val only = intercept[IllegalArgumentException](
      Harness.select(Some("q01_pricing_summary,q01_pricing_sumary"), None, registry))
    assert(only.getMessage.contains("SPARK_GRAFT_ONLY") &&
      only.getMessage.contains("q01_pricing_sumary"))
    val skip = intercept[IllegalArgumentException](
      Harness.select(None, Some("d03_ngram_jacard"), registry))
    assert(skip.getMessage.contains("SPARK_GRAFT_SKIP") &&
      skip.getMessage.contains("d03_ngram_jacard"))
  }

  test("Harness selection is name-sorted and applies ONLY then SKIP") {
    assert(Harness.select(None, None, registry).queries.map(_.name) ==
      registry.map(_.name).sorted)
    val sel = Harness.select(Some("s01_brute_topk,d01_exact_dedup,q01_pricing_summary"),
      Some("d01_exact_dedup"), registry)
    assert(sel.queries.map(_.name) == Seq("q01_pricing_summary", "s01_brute_topk"))
    assert(sel.skip == Set("d01_exact_dedup"))
  }
}
