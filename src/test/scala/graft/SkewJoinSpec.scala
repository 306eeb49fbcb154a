package graft

import graft.engine.SkewJoin
import org.apache.spark.sql.functions._

/** Salted skew join + partitioned writes (the manual scale remedies). */
class SkewJoinSpec extends SparkSpecBase {
  import spark.implicits._

  test("saltedJoin matches the plain join result on skewed data") {
    // one hot key (90% of rows) + tail
    val big = ((1 to 900).map(_ => (1L, "hot")) ++
      (1 to 100).map(i => (i.toLong % 7 + 2, "cold"))).toDF("k", "tag")
    val small = Seq((1L, "dim1"), (2L, "dim2"), (5L, "dim5")).toDF("id", "name")
    val plain = big.join(small, big("k") === small("id")).drop("id")
    val salted = SkewJoin.saltedJoin(big, small, "k", "id").drop("id")
    assert(salted.count() == plain.count())
    assert(rows(salted.groupBy("k", "name").count()) ==
           rows(plain.groupBy("k", "name").count()))
  }

  test("saltedJoin replicates each small row once per salt, no dup results") {
    val big = Seq((1L, "x"), (1L, "y")).toDF("k", "v")
    val small = Seq((1L, "d")).toDF("id", "d")
    val out = SkewJoin.saltedJoin(big, small, "k", "id", saltFactor = 16)
    assert(out.count() == 2) // exactly one match per big row
  }

  test("saltedJoin with SAME-NAMED keys keeps one usable key column") {
    // code-review r13: both key columns survived the join, so the first
    // downstream col(\"k\") threw AMBIGUOUS_REFERENCE
    val big = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val small = Seq((1L, "d1"), (2L, "d2")).toDF("k", "d")
    val out = SkewJoin.saltedJoin(big, small, "k", "k")
    assert(out.columns.count(_ == "k") == 1)
    assert(rows(out.groupBy("k").count()) ==
      Set(Seq(1L, 1L), Seq(2L, 1L))) // groupBy("k") resolvable
    // reserved-column guards: __salt on either side, __salt_rk on the
    // small side (it is the same-named-key rename target — an existing
    // column produced AMBIGUOUS_REFERENCE at join build, code-review r14)
    assertThrows[IllegalArgumentException] {
      SkewJoin.saltedJoin(big.withColumn("__salt", lit(0)), small, "k", "k")
    }
    assertThrows[IllegalArgumentException] {
      SkewJoin.saltedJoin(big, small.withColumn("__salt_rk", lit(0)), "k", "k")
    }
    // ...and on the BIG side when the rename path is live: the final
    // drop removes EVERY __salt_rk, so the user's own column silently
    // vanished from the output (code-review r18)
    assertThrows[IllegalArgumentException] {
      SkewJoin.saltedJoin(big.withColumn("__salt_rk", lit(0)), small, "k", "k")
    }
    // distinct key names leave a big-side __salt_rk untouched (no
    // rename path, no drop) — the guard must not over-refuse
    val out2 = SkewJoin.saltedJoin(
      big.withColumn("__salt_rk", lit(7)),
      small.withColumnRenamed("k", "k2"), "k", "k2")
    assert(out2.columns.contains("__salt_rk"))
  }

  test("writePartitioned: partition pruning visible in the scan") {
    val dir = TestTmp.dir("part")
    val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("part_key", "v")
    graft.engine.Tables.writePartitioned(df, dir, "t", Seq("part_key"))
    val read = spark.read.parquet(s"$dir/t.parquet").filter($"part_key" === "a")
    assert(read.count() == 2)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
           plan.contains("part_key"), plan.take(500))
  }

  test("registered kernel functions callable from SQL") {
    graft.functions.registry.registerAll(spark)
    Seq((Seq(1f, 0f), Seq(1f, 0f))).toDF("a", "b")
      .createOrReplaceTempView("vecs")
    val r = spark.sql(
      "SELECT vec_cosine(a, b) AS c, simhash64('hello world hello') AS s FROM vecs")
      .collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getLong(1) != 0L)
  }
}
