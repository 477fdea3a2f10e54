package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{QuerySpec, SparkEntry, SparkSpec}
import graft.QuerySpec.{RowsOnly, Sql}

class InventorySpec extends AnyFunSuite with SparkSpec {

  val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query returns rows at sf0.001") {
    for ((name, fn) <- SparkEntry.queries)
      assert(fn(spark, sf).count() > 0, s"query $name returned no rows")
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("the rows-only floor is exactly the five declared queries, each with a reason") {
    val rowsOnly = SparkEntry.specs.collect { case QuerySpec(n, _, RowsOnly(r)) => n -> r }.toMap
    assert(rowsOnly.keySet == Set("ann_ivf_stored", "ann_knn_join", "bpe_tokens",
      "text_compress", "text_fingerprint"))
    assert(rowsOnly.values.forall(_.nonEmpty))
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet -- rowsOnly.keySet)
  }

  test("a name declared twice fails registry construction") {
    val build = SparkEntry.queries("q5_groupby_agg")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.registry(QuerySpec("twice", build, Sql("SELECT 1")),
        QuerySpec("twice", build, RowsOnly("duplicate")))
    }
    assert(e.getMessage.contains("twice"))
  }

  test("resolve returns the named specs and rejects unknown names, listing each") {
    assert(SparkEntry.resolve(Seq("graph_cc", "q5_groupby_agg")).map(_.name).toSet ==
      Set("graph_cc", "q5_groupby_agg"))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.resolve(Seq("q5_groupby_agg", "no_such_query", "graph_ccc"))
    }
    assert(e.getMessage.contains("no_such_query") && e.getMessage.contains("graph_ccc"))
    assert(!e.getMessage.contains("q5_groupby_agg"))
  }

  test("the shared session runs on Sessions.local settings: UTC, 4 partitions, no UI") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("q8 approx distinct: err_gate 0 (sketch within 5%), exact count matches") {
    import org.apache.spark.sql.functions._
    val row = Inventory.q8ApproxDistinct(spark, sf).collect()(0)
    val exact = graft.core.Tables.t(spark, sf, "lineitem")
      .agg(countDistinct(col("l_orderkey"))).collect()(0).getLong(0)
    assert(row.getLong(row.fieldIndex("exact_orders")) == exact)
    assert(row.getLong(row.fieldIndex("err_gate")) == 0L,
      s"approx_count_distinct drifted past 5% of $exact")
  }

  test("q24b approx percentiles: exact values match q24, all rank gates 0") {
    val row = Inventory.q24bApproxPercentiles(spark, sf).collect()(0)
    val exact = Inventory.q24Percentiles(spark, sf).collect()(0)
    assert(row.getDouble(row.fieldIndex("p50")) ==
      exact.getDouble(exact.fieldIndex("p50")))
    assert(row.getDouble(row.fieldIndex("p99")) ==
      exact.getDouble(exact.fieldIndex("p99")))
    for (g <- Seq("g50", "g90", "g99"))
      assert(row.getLong(row.fieldIndex(g)) == 0L,
        s"$g: approx_percentile outside its ±1% rank window")
  }

  test("q29 funnel: strict event ordering — out-of-order stages don't count") {
    import java.sql.Timestamp
    import spark.implicits._
    def ts(m: Int) = new Timestamp(m * 60000L)
    // u1 converts fully in order; u2 clicked BEFORE viewing (no stage 2);
    // u3 purchased before clicking (stage 2 only); u4 never viewed
    val e = Seq(
      (1L, "view", ts(0)), (1L, "click", ts(1)), (1L, "purchase", ts(3)),
      (2L, "click", ts(0)), (2L, "view", ts(1)), (2L, "purchase", ts(2)),
      (3L, "view", ts(0)), (3L, "purchase", ts(1)), (3L, "click", ts(2)),
      (4L, "click", ts(0)), (4L, "purchase", ts(1))
    ).toDF("user_id", "event_type", "ts")
    val got = graft.operators.Funnel
      .report(e, "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      .orderBy("stage")
      .as[(String, Long, Option[Long])].collect().toSeq
    // u1: view@0 → click@1 (60s) → purchase@3 (120s)
    // u3: view@0 → click@2 (120s); purchase@1 precedes the click → no stage 3
    assert(got == Seq(
      ("1_view", 3L, None),
      ("2_click", 2L, Some(180000000L)),
      ("3_purchase", 1L, Some(120000000L))), s"funnel: $got")
  }
}
