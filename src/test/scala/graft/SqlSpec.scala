package graft

import graft.engine.{Sql, Tables}

/** Q1–Q3 (front_end.py:215-225, 684-697; text_to_sql.py:39-93, 137-144). */
class SqlSpec extends SparkSpecBase {
  import spark.implicits._

  test("Q1 runSql: valid SQL over registered views") {
    Seq((1, "a"), (2, "b")).toDF("id", "v").createOrReplaceTempView("t_sql")
    val out = Sql.runSql(spark, "SELECT count(*) AS n FROM t_sql")
    assert(out.collect()(0).getLong(0) == 2L)
  }

  test("Q1 errors-as-data: bad SQL → one-column Error frame, never throws") {
    val out = Sql.runSql(spark, "SELECT FROM WHERE nonsense")
    assert(out.columns.toSeq == Seq("Error"))
    assert(out.count() == 1)
    val out2 = Sql.runSql(spark, "SELECT x FROM no_such_table_xyz")
    assert(out2.columns.toSeq == Seq("Error"))
  }

  test("Q1 errors-as-data: RUNTIME failures (ANSI) also come back as the Error frame") {
    // Spark 4 default ANSI mode makes 1/0 a runtime error, which only
    // surfaces at execution — runSql executes eagerly like the
    // reference's pd.read_sql, so it must land in the Error frame, not
    // escape at the caller's later action
    val out = Sql.runSql(spark, "SELECT 1/0 AS x")
    assert(out.columns.toSeq == Seq("Error"))
    assert(out.collect()(0).getString(0).toLowerCase.contains("divide"))
  }

  test("Q1+Q3 a saved query shows and saves the same rows, even when they are nondeterministic") {
    // a new draw per evaluation: a second run of the query would differ
    spark.udf.register("sql_spec_draw", org.apache.spark.sql.functions
      .udf(() => java.util.UUID.randomUUID().toString).asNondeterministic())
    val out = Sql.runSql(spark, "SELECT id, sql_spec_draw() AS draw, " +
      "rand() AS r, current_timestamp() AS at FROM range(0, 40, 1, 4)")
    val shown = out.collect().map(_.toSeq).toSet
    assert(shown.size == 40)
    val dir = TestTmp.dir("gold-same")
    Sql.saveGold(out, dir, "drawn")
    assert(rows(spark.read.parquet(s"$dir/drawn.parquet")) == shown)
  }

  test("Q1+Q3 runSql, collect and saveGold evaluate each row of the query once") {
    val evals = spark.sparkContext.longAccumulator("sql_spec_evals")
    spark.udf.register("sql_spec_counted", org.apache.spark.sql.functions
      .udf { (id: Long) => evals.add(1); id }.asNondeterministic())
    val out = Sql.runSql(spark,
      "SELECT sql_spec_counted(id) AS id FROM range(0, 30, 1, 3)")
    assert(out.collect().length == 30)
    Sql.saveGold(out, TestTmp.dir("gold-once"), "counted")
    assert(evals.sum == 30, s"${evals.sum} evaluations of 30 rows")
  }

  test("Q2 renderSchema: number/text type collapse, sorted tables") {
    val dfs = Map(
      "zeta" -> Seq((1, "a")).toDF("id", "name"),
      "alpha" -> Seq((1.5, true, java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
        .toDF("amt", "flag", "ts"))
    val s = Sql.renderSchema(dfs)
    assert(s ==
      """CREATE TABLE alpha (amt number, flag number, ts text)
        |CREATE TABLE zeta (id number, name text)""".stripMargin)
  }

  test("Q2 extractSelect: first SELECT...; else SELECT-to-end; else None") {
    assert(Sql.extractSelect("junk SELECT a FROM t; trailing")
      == Some("SELECT a FROM t;"))
    assert(Sql.extractSelect("SELECT a FROM t") == Some("SELECT a FROM t"))
    assert(Sql.extractSelect("no query here").isEmpty)
    // quote-aware terminator: semicolons inside literals are data, for
    // BOTH literal syntaxes Spark accepts (code-review r14, both passes)
    assert(Sql.extractSelect("SELECT 'a;b' AS v FROM t; x")
      == Some("SELECT 'a;b' AS v FROM t;"))
    assert(Sql.extractSelect("SELECT \"a;b\" AS v FROM t; x")
      == Some("SELECT \"a;b\" AS v FROM t;"))
    // backslash-escaped quote stays inside the literal
    assert(Sql.extractSelect("SELECT 'it\\'s; fine' AS v FROM t; x")
      == Some("SELECT 'it\\'s; fine' AS v FROM t;"))
    // '' doubling still in-string
    assert(Sql.extractSelect("SELECT 'it''s; fine' AS v FROM t; x")
      == Some("SELECT 'it''s; fine' AS v FROM t;"))
    // comment spans are skipped: a sentinel embedding "select" yields
    // None, while a model preamble comment above real SQL still extracts
    assert(Sql.extractSelect("-- no template matched: select stuff").isEmpty)
    assert(Sql.extractSelect("-- model says:\nSELECT a FROM t;")
      == Some("SELECT a FROM t;"))
    // prose apostrophes before the statement must not swallow it
    assert(Sql.extractSelect("here's your query:\nSELECT a FROM t;")
      == Some("SELECT a FROM t;"))
    // a "--" line INSIDE a literal is data, not a comment (the line-level
    // pre-strip corrupted it — code-review r14, second pass), and a
    // semicolon on a trailing comment line is not a terminator
    assert(Sql.extractSelect("SELECT * FROM t WHERE note = 'a\n-- b\nc';")
      == Some("SELECT * FROM t WHERE note = 'a\n-- b\nc';"))
    assert(Sql.extractSelect("SELECT a FROM t -- trailing; note\nWHERE b = 1;")
      == Some("SELECT a FROM t -- trailing; note\nWHERE b = 1;"))
    // a mid-line double-hyphen in PROSE is a dash, not a comment — the
    // statement after it must extract; only line-START "--" marks the
    // sentinel/comment shape in the pre-SELECT region
    assert(Sql.extractSelect("Sure -- SELECT a FROM t;")
      == Some("SELECT a FROM t;"))
  }

  test("Q3 saveGold + default name format") {
    val dir = TestTmp.dir("gold")
    Sql.saveGold(Seq((1, "x")).toDF("id", "v"), dir, "golden_test")
    val back = spark.read.parquet(s"$dir/golden_test.parquet")
    assert(back.count() == 1)
    val name = Sql.defaultGoldName(
      java.time.LocalDateTime.of(2026, 8, 12, 14, 30))
    assert(name == "golden_20260812_1430")
  }

  test("Tables.listTables surfaces registered views") {
    Seq((1, "a")).toDF("id", "v").createOrReplaceTempView("t_cat_check")
    val names = Tables.listTables(spark).collect().map(_.getString(0))
    assert(names.contains("t_cat_check"))
  }
}
