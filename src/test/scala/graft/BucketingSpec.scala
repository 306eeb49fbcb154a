package graft

import graft.engine.Bucketing
import org.apache.spark.sql.functions._

/** Bucketed co-located joins: same result, zero shuffle exchanges. */
class BucketingSpec extends SparkSpecBase {
  import spark.implicits._

  test("bucketed fact-fact join plans without exchanges and matches plain join") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_orderkey", "o_totalprice")
      Bucketing.writeBucketed(li, "b_lineitem", "l_orderkey", 4)
      Bucketing.writeBucketed(o, "b_orders", "o_orderkey", 4)

      val joined = Bucketing.joinBucketed(spark,
        "b_lineitem", "l_orderkey", "b_orders", "o_orderkey")
      assert(Bucketing.isShuffleFree(joined),
        joined.queryExecution.executedPlan.toString.take(600))

      val expected = li.join(o, li("l_orderkey") === o("o_orderkey")).count()
      assert(joined.count() == expected)

      // and the plain parquet-to-parquet join DOES shuffle (sanity check
      // that isShuffleFree actually discriminates)
      val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      assert(!Bucketing.isShuffleFree(plain))
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("bucketedTableFor: writes once per content key, reuses on repeat, re-buckets on content change") {
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    val t1 = Bucketing.bucketedTableFor(a, "spec_demo", "contentA", "k", 2)
    assert(rows(t1) == rows(a))
    // repeat call with the same content key must REUSE (not rewrite):
    // pass a different frame — a rewrite would surface its rows
    val b = Seq((9L, "q")).toDF("k", "v")
    val t2 = Bucketing.bucketedTableFor(b, "spec_demo", "contentA", "k", 2)
    assert(rows(t2) == rows(a), "same content key must serve the stored table")
    // a NEW content key is a different table: the new rows appear and
    // the bucket metadata is real (joinable shuffle-free on k)
    val t3 = Bucketing.bucketedTableFor(b, "spec_demo", "contentB", "k", 2)
    assert(rows(t3) == rows(b))
  }

  test("joinBucketed treats case-mismatched same keys as the SAME key " +
       "(Spark resolution is case-insensitive) — code-review r18") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v1")
    val b = Seq((1L, "p"), (2L, "q")).toDF("id", "v2")
    try {
      Bucketing.writeBucketed(a, "b_spec_ci_a", "id", 2)
      Bucketing.writeBucketed(b, "b_spec_ci_b", "id", 2)
      // pre-fix the case-sensitive k1 != k2 took the condition branch
      // and the output kept BOTH id columns — every downstream
      // col("id") threw AMBIGUOUS_REFERENCE
      val out = Bucketing.joinBucketed(spark,
        "b_spec_ci_a", "ID", "b_spec_ci_b", "id")
      assert(out.columns.count(_.equalsIgnoreCase("id")) == 1,
        out.columns.mkString(", "))
      assert(out.select("ID").count() == 2)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_spec_ci_a")
      spark.sql("DROP TABLE IF EXISTS b_spec_ci_b")
    }
  }

  test("joinBucketed under spark.sql.caseSensitive=true keeps 'ID' vs 'id' " +
       "as DISTINCT keys (condition join, both columns kept) — advice r18") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("ID", "v1")
    val b = Seq((1L, "p"), (3L, "q")).toDF("id", "v2")
    try {
      Bucketing.writeBucketed(a, "b_spec_cs_a", "ID", 2)
      Bucketing.writeBucketed(b, "b_spec_cs_b", "id", 2)
      spark.conf.set("spark.sql.caseSensitive", "true")
      // pre-fix equalsIgnoreCase collapsed the genuinely distinct keys
      // into USING("ID"), which fails resolution against b (no "ID"
      // column case-sensitively) — a confusing error on a valid join
      val out = Bucketing.joinBucketed(spark,
        "b_spec_cs_a", "ID", "b_spec_cs_b", "id")
      assert(out.columns.contains("ID") && out.columns.contains("id"),
        out.columns.mkString(", "))
      assert(out.count() == 1) // only key 1 matches
    } finally {
      spark.conf.unset("spark.sql.caseSensitive")
      spark.sql("DROP TABLE IF EXISTS b_spec_cs_a")
      spark.sql("DROP TABLE IF EXISTS b_spec_cs_b")
    }
  }

  test("isShuffleFree discriminates every shuffle flavor, not just hash") {
    // code-review r13: rangepartitioning (orderBy) and SinglePartition
    // (global agg) shuffles previously read as "shuffle-free"
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    assert(!Bucketing.isShuffleFree(df.orderBy("k")))
    assert(!Bucketing.isShuffleFree(df.agg(count(lit(1)))))
    // advice r13: RoundRobinPartitioning (repartition(n)) is a shuffle
    // the old string match let through
    assert(!Bucketing.isShuffleFree(df.repartition(4)))
    assert(Bucketing.isShuffleFree(df.filter(col("k") > 0)))
  }

  test("q_star_bucketed is value-identical to q_star_revenue — layout must not change results") {
    val dir = "/root/testdata/sf0.001"
    val plain = SparkEntry.queries("q_star_revenue")(spark, dir)
    val bucketed = SparkEntry.queries("q_star_bucketed")(spark, dir)
    assert(rows(bucketed) == rows(plain))
  }
}
