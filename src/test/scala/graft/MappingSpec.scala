package graft

import graft.engine.Mapping
import graft.engine.Mapping.TableMeta

/** J1–J6 (mapping.py:105-181): FK-first key inference, deterministic
  * semantic fallback, exact aliasing scheme, pairwise sweep + passthrough.
  * Fixtures follow FIXTURES.md §B (customers_mini / orders_mini / misc).
  */
class MappingSpec extends SparkSpecBase {
  import spark.implicits._

  private def customers = Seq(
    (1L, "Ada", "London"), (2L, "Alan", "Wilmslow"))
    .toDF("customer_id", "name", "city")
  private def orders = Seq(
    (10L, 1L, 100.0), (11L, 1L, 150.0), (12L, 2L, 99.0))
    .toDF("order_id", "customer_id", "total")
  private def misc = Seq(("x", "note")).toDF("code", "note")

  test("J2 aliasing: key once under t1 name, others suffixed _{table}, t2 key dropped") {
    val out = Mapping.join(customers, "customers", "customer_id",
                           orders, "orders", "customer_id")
    assert(out.columns.toSeq == Seq("customer_id",
      "name_customers", "city_customers", "order_id_orders", "total_orders"))
    assert(out.count() == 3)
  }

  test("J2 generalization: differently-named keys join, t1 key name survives") {
    val o2 = orders.withColumnRenamed("customer_id", "cust_ref")
    val out = Mapping.join(customers, "c", "customer_id", o2, "o", "cust_ref")
    assert(out.columns.toSeq == Seq("customer_id",
      "name_c", "city_c", "order_id_o", "total_o"))
    assert(out.count() == 3)
  }

  test("J2 columns containing dots join and alias correctly (CSV-header shape)") {
    // raw string interpolation parsed "order.id" as a 3-part nested
    // reference and failed the whole merge with UNRESOLVED_COLUMN
    // (code-review r14); references are backtick-quoted now
    val c2 = customers.withColumnRenamed("customer_id", "customer.id")
    val o2 = orders.withColumnRenamed("customer_id", "customer.id")
      .withColumnRenamed("order_id", "order.id")
    val out = Mapping.join(c2, "c", "customer.id", o2, "o", "customer.id")
    assert(out.columns.toSeq == Seq("customer.id",
      "name_c", "city_c", "order.id_o", "total_o"))
    assert(out.count() == 3)
  }

  test("J3 FK-first beats semantic inference") {
    val k = Mapping.inferKey(
      customers.columns.toSeq, TableMeta(fk = None),
      orders.columns.toSeq, TableMeta(fk = Some("customer_id")))
    assert(k == Some(("customer_id", "customer_id")))
  }

  test("J5: a selected FK that fails validation vetoes the pair — no fallthrough") {
    import Mapping.TableMeta
    // fk1 "cust_id" IS in t2's columns (selected, mapping.py:146-147)
    // but NOT in t1's own columns: the reference's validation then
    // skips the pair entirely; falling through to semantic inference
    // (which would pair shared_key) would merge a pair the reference
    // passes through
    val k = Mapping.inferKey(
      Seq("a", "shared_key"), TableMeta(fk = Some("cust_id")),
      Seq("cust_id", "shared_key"), TableMeta())
    assert(k.isEmpty)
  }

  test("J4 semantic inference: exact shared name scores 1.0; ≥0.8 similar names pair up; below-threshold → None") {
    assert(Mapping.inferSemanticKey(
      Seq("customer_id", "name"), Seq("order_id", "customer_id"))
      .map(t => (t._1, t._2)) == Some(("customer_id", "customer_id")))
    assert(Mapping.inferSemanticKey(
      Seq("c_custkey"), Seq("o_custkey")).isDefined)   // 0.888
    assert(Mapping.inferSemanticKey(
      Seq("code"), Seq("total_price")).isEmpty)
  }

  test("J6 sweep: joins named {t1}_{t2}_merged, both directions consumed, unjoinable passthrough") {
    val out = Mapping.mergeTables(
      Map("customers" -> customers, "orders" -> orders, "misc" -> misc),
      names = Seq("customers", "orders", "misc"))
    assert(out.keySet == Set("customers_orders_merged", "misc"))
    assert(out("misc").columns.toSeq == Seq("code", "note"))
    assert(out("customers_orders_merged").count() == 3)
  }

  test("J6 sweep: all tables unjoinable → all passthrough") {
    val out = Mapping.mergeTables(
      Map("misc" -> misc, "customers" -> customers),
      names = Seq("customers", "misc"))
    assert(out.keySet == Set("customers", "misc"))
  }

  test("J6 sweep: quadratic pair cap fails fast on a too-wide catalog") {
    val tables = (1 to 5).map(i => s"t$i" -> misc).toMap
    val e = intercept[IllegalArgumentException] {
      Mapping.mergeTables(tables, maxPairs = 10) // 5 tables → 20 ordered pairs
    }
    assert(e.getMessage.contains("maxPairs"))
    // under the cap, behavior unchanged: the 5 identical tables pair up
    // into C(5,2) = 10 merged outputs
    assert(Mapping.mergeTables(tables, maxPairs = 20).size == 10)
  }
}

class SaltedJoinSpec extends SparkSpecBase {
  import spark.implicits._
  import graft.engine.SkewJoin

  test("saltedJoin: identical rows to the plain join on a skewed key") {
    // 90% of big-side rows share key 1 — the hot-reducer case
    val big = ((1 to 900).map(i => (1L, i.toLong)) ++
      (1 to 100).map(i => (2L + i % 5, 1000L + i))).toDF("k", "payload")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (9L, "unmatched"))
      .toDF("k", "label")
    val plain = big.join(small, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val salted = SkewJoin.saltedJoin(big, small, "k", "k", saltFactor = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val dimMatched = big.filter($"k".isin(2L, 3L)).count().toInt
    assert(salted == plain && plain.size == 900 + dimMatched && dimMatched > 0)
  }

  test("saltedJoin: hot key genuinely spreads across salts") {
    import org.apache.spark.sql.functions._
    // drive the IMPLEMENTATION's salt expression (SkewJoin.saltExpr),
    // not an inline replica: the old copy hashed with murmur3 while the
    // product uses xxhash64, so a regression to a non-spreading salt
    // would have passed undetected (code-review r14)
    val big = (1 to 1000).map(i => (1L, i.toLong)).toDF("k", "payload")
    val spread = big
      .withColumn("__salt", SkewJoin.saltExpr(big, 8))
      .select(countDistinct("__salt")).collect()(0).getLong(0)
    assert(spread == 8L, s"hot key used only $spread of 8 salts")
  }
}

class RangeJoinSpec extends SparkSpecBase {
  import spark.implicits._
  import graft.engine.RangeJoin

  test("binned: containment matches, boundaries inclusive, multi-bin intervals work") {
    val facts = Seq(
      (1L, 5L), (1L, 10L), (1L, 25L), (1L, 99L),  // 99: in no interval
      (2L, 10L),                                   // wrong key for [0,30]
    ).toDF("k", "t")
    val intervals = Seq(
      (1L, 0L, 10L),    // catches t=5 and t=10 (hi inclusive)
      (1L, 20L, 85L),   // spans many bins at binWidth=10 → catches 25
      (2L, 8L, 12L),    // catches (2, 10)
    ).toDF("k", "lo", "hi")
    val out = RangeJoin.binned(facts, intervals, "k", "t", "lo", "hi", binWidth = 10L)
      .select("k", "t", "lo").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 5L, 0L), (1L, 10L, 0L), (1L, 25L, 20L), (2L, 10L, 8L)))
  }

  test("binned: overlapping intervals each match, exactly once per (fact, interval)") {
    val facts = Seq((1L, 15L)).toDF("k", "t")
    val intervals = Seq((1L, 0L, 40L), (1L, 10L, 20L)).toDF("k", "lo", "hi")
    val out = RangeJoin.binned(facts, intervals, "k", "t", "lo", "hi", binWidth = 10L)
      .select("lo").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(0L, 10L))
    // reserved-name guard (the saltedJoin discipline): a caller __bin
    // was silently clobbered and then dropped from the output
    assertThrows[IllegalArgumentException] {
      RangeJoin.binned(facts.withColumn("__bin", org.apache.spark.sql
        .functions.lit(0)), intervals, "k", "t", "lo", "hi", binWidth = 10L)
    }
    // shared NON-key names refuse at the API boundary too (code-review
    // r18): a shared tCol threw AMBIGUOUS_REFERENCE at the post-join
    // filter, other shared names yielded duplicate-column outputs
    val e = intercept[IllegalArgumentException] {
      RangeJoin.binned(facts,
        intervals.withColumn("t", org.apache.spark.sql.functions.lit(0L)),
        "k", "t", "lo", "hi", binWidth = 10L)
    }
    assert(e.getMessage.contains("BOTH sides"), e.getMessage)
  }
}
