package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.{Failure, Success, Try}

/** Q1–Q4: the reference's arbitrary-SQL surface
  * (/root/reference/ETL_Pipeline_Entire/front_end.py:215-225, 684-697;
  * text_to_sql.py:39-93, 137-144).
  *
  * The reference ships every SQL string to MySQL; here the same strings run
  * through spark.sql over temp views, so the effective relational surface is
  * all of Spark SQL (sorts, windows, set ops, grouping sets, subqueries —
  * none of which need engine code). The NL→SQL model itself stays a
  * pluggable String => String outside the engine (SURVEY.md §7.3).
  */
object Sql {

  /** Q1 execute SQL, errors-as-data: the reference returns failures as a
    * one-column "Error" table instead of throwing (front_end.py:222-224).
    *
    * COST: the query runs ONCE, here, like the reference's pd.read_sql,
    * and the frame returned is the result of that run: an eager
    * `localCheckpoint`, so showing it (`collect`) and saving it
    * ([[saveGold]]) read the same rows instead of running the plan
    * again, and a nondeterministic query (`rand()`, `uuid()`) saves the
    * rows it showed. The rows stay on the executors, in their block
    * managers (memory, spilling to disk), never on the driver; Spark's
    * ContextCleaner releases them once the frame is unreachable, and a
    * lost executor loses them (local checkpoints are not replicated).
    * The frame's plan is therefore a `LogicalRDD`: it lists no input
    * files, and the query's own plan is not visible through it. For a
    * large programmatic result read once, [[trySql]] (lazy, analysis
    * errors only) or [[strictSql]] skip the stored copy.
    */
  def runSql(spark: SparkSession, query: String): DataFrame =
    // execute EAGERLY: RUNTIME failures — routine under Spark 4's
    // default ANSI mode (1/0, bad casts) — must also come back as the
    // Error frame, not escape later at the caller's action. The
    // checkpoint computes every column of every row (count() would
    // prune the projections whose evaluation we need to prove)
    Try(spark.sql(query).localCheckpoint(eager = true)) match {
      case Success(df) => df
      case Failure(e) =>
        import spark.implicits._
        Seq(Option(e.getMessage).getOrElse(e.toString)).toDF("Error")
    }

  /** Like runSql but surfacing the failure for programmatic callers. */
  def trySql(spark: SparkSession, query: String): Either[Throwable, DataFrame] =
    Try(spark.sql(query)).toEither

  /** Strict execution for contract/driver queries: an analysis error must
    * fail loudly (propagate) rather than come back as a 1-row Error frame,
    * so a broken column name fails `sbt test` instead of silently shipping.
    * End-user Q1 semantics keep [[runSql]]'s errors-as-data.
    */
  def strictSql(spark: SparkSession, query: String): DataFrame =
    trySql(spark, query).fold(throw _, identity)

  /** Q2 plumbing (a): render the catalog as simplified CREATE TABLE text for
    * the NL→SQL prompt, collapsing types to number/text exactly like
    * text_to_sql.py:63-84 (int/decimal/float/double/bit → number,
    * everything else → text).
    */
  def renderSchema(tables: Map[String, DataFrame]): String = {
    import org.apache.spark.sql.types._
    def collapse(dt: DataType): String = dt match {
      case _: NumericType | BooleanType => "number"
      case _ => "text"
    }
    tables.toSeq.sortBy(_._1).map { case (name, df) =>
      val cols = df.schema.fields
        .map(f => s"${f.name} ${collapse(f.dataType)}").mkString(", ")
      s"CREATE TABLE $name ($cols)"
    }.mkString("\n")
  }

  /** Q2 plumbing (b): extract the first SELECT...; statement from generated
    * model output (text_to_sql.py:137-144). Falls back to the first
    * SELECT-to-end-of-string when no terminating semicolon exists.
    *
    * The SELECT search skips `--` COMMENT spans: the no-SQL sentinels
    * embed the raw question for diagnosability, and a question
    * containing the word "select" used to turn the sentinel itself into
    * runnable garbage SQL (code-review r14). A model output of
    * `-- explanation\nSELECT ...` still extracts the statement.
    *
    * The terminator scan is QUOTE-AWARE for both literal syntaxes Spark
    * accepts — single quotes and (by default) double quotes — plus
    * backslash escapes (`escapedStringLiterals` defaults false, so `\'`
    * is an escaped quote INSIDE the literal): a semicolon inside
    * `WHERE note = 'a;b'` or `"a;b"` is part of the statement, not its
    * end — the old scanner knew only `''` doubling and truncated such
    * valid SQL mid-literal into a parse Error frame (code-review r14,
    * both passes). `''` doubling still works: the first quote closes,
    * the second reopens — net in-string.
    */
  def extractSelect(generated: String): Option[String] = {
    // locate the first SELECT token OUTSIDE a -- comment. The pre-SELECT
    // region is model prose, not SQL, so only comments are tracked there
    // (quote-tracking prose would let an apostrophe in "here's your
    // query:" swallow the statement); a line-level comment pre-strip was
    // tried and CORRUPTED literals containing "--" lines (code-review
    // r14, second pass) — comment state must be computed in-scan.
    val s = generated
    var i = 0
    var start = -1
    var inComment = false
    // line-START comments only in the prose region: the sentinel shape
    // is a line beginning with "--", while a mid-line double-hyphen in
    // model chatter ("Sure -- SELECT a FROM t;") is a prose dash whose
    // statement must still extract (code-review r14, third pass). The
    // post-SELECT terminator scan below keeps full mid-line "--"
    // semantics — there it IS SQL.
    var atLineStart = true
    def isWord(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    while (start < 0 && i < s.length) {
      val ch = s.charAt(i)
      if (inComment) { if (ch == '\n') { inComment = false; atLineStart = true } }
      else if (atLineStart && ch == '-' && i + 1 < s.length
          && s.charAt(i + 1) == '-') {
        inComment = true; i += 1
      } else if ((ch == 'S' || ch == 's')
          && s.regionMatches(true, i, "SELECT", 0, 6)
          && (i == 0 || !isWord(s.charAt(i - 1)))
          && (i + 6 >= s.length || !isWord(s.charAt(i + 6)))) start = i
      else if (ch == '\n') atLineStart = true
      else if (!Character.isWhitespace(ch)) atLineStart = false
      i += 1
    }
    if (start < 0) return None
    val tail = s.substring(start)
    // terminator scan, quote- AND comment-aware: a semicolon inside a
    // literal ('a;b' or "a;b"), after a backslash escape, or on a --
    // comment line is part of the statement, not its end; quote state
    // is checked FIRST, so "--" inside a literal stays literal
    var j = 0
    var quote: Char = 0
    var inC = false
    var end = -1
    while (end < 0 && j < tail.length) {
      val ch = tail.charAt(j)
      if (quote != 0) {
        if (ch == '\\') j += 1 // escaped char stays inside the literal
        else if (ch == quote) quote = 0
      } else if (inC) { if (ch == '\n') inC = false }
      else ch match {
        case '-' if j + 1 < tail.length && tail.charAt(j + 1) == '-' =>
          inC = true; j += 1
        case '\'' | '"' => quote = ch
        case ';' => end = j
        case _ =>
      }
      j += 1
    }
    Some((if (end < 0) tail else tail.substring(0, end + 1)).trim)
  }

  /** Q2: pluggable NL→SQL generator contract; the T5 model stays outside the
    * engine. The template impl lets pipelines and tests run headless.
    */
  trait SqlGenerator { def generate(question: String, schema: String): String }
  object EchoGenerator extends SqlGenerator {
    def generate(question: String, schema: String): String = question
  }

  /** Q2: adapter for a REAL NL→SQL model. The reference runs a local
    * seq2seq model over the prompt
    * `"Tables:\n<schema>\n\nQuestion:\n<q>\n\nAnswer:\n"` and decodes the
    * first SELECT (text_to_sql.py:110-139). This adapter reproduces that
    * contract around any inference callable `String => String` — an
    * in-process JNI binding, a local inference server client, or a
    * subprocess — so plugging a model in is one constructor argument; the
    * engine side (prompt rendering via [[renderSchema]], extraction via
    * [[extractSelect]], execution via [[runSql]]) is already wired.
    *
    * Inference failures and non-SELECT outputs fall back to the optional
    * secondary generator (typically [[graft.engine.TemplateSqlGenerator]]),
    * mirroring the reference's errors-as-data path rather than throwing.
    */
  final class ModelSqlGenerator(infer: String => String,
      fallback: Option[SqlGenerator] = None) extends SqlGenerator {

    /** The reference's exact training-time prompt shape
      * (text_to_sql.py:110-115).
      */
    def prompt(question: String, schema: String): String =
      s"Tables:\n$schema\n\nQuestion:\n$question\n\nAnswer:\n"

    def generate(question: String, schema: String): String =
      Try(infer(prompt(question, schema))) match {
        case Success(out) if extractSelect(out).isDefined => out
        case _ =>
          // the no-SQL sentinel must NOT embed the raw question: a
          // question containing the word "select" would make the
          // sentinel itself match extractSelect and execute as garbage
          // SQL instead of surfacing as None (code-review r13)
          fallback.map(_.generate(question, schema))
            .getOrElse("-- model produced no SQL")
      }
  }

  /** Q3 save result to the gold layer: replace-write under a timestamped
    * default name (front_end.py:684-697, default name :668).
    */
  def saveGold(df: DataFrame, goldDir: String, name: String): Unit =
    Tables.write(df, goldDir, name)

  def defaultGoldName(now: java.time.LocalDateTime): String =
    "golden_" + now.format(
      java.time.format.DateTimeFormatter.ofPattern("uuuuMMdd_HHmm"))
}
