package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** T1–T8: the reference's cleaning transformations
  * (/root/reference/ETL_Pipeline_Entire/transformations_code.py:78-148),
  * re-expressed as declarative Spark column expressions so Catalyst fuses a
  * whole selected pipeline into a single whole-stage-codegen projection —
  * one pass over the data regardless of how many transforms are selected
  * (the reference makes one eager pandas pass per transform).
  *
  * Scale notes: every transform here is a narrow, per-row projection — no
  * shuffle, no driver collect — except removeDuplicates (an inherent
  * hash-repartition on all columns) and imputeNulls (one tiny scalar agg job
  * for the means, then a projection; [[pipeline]] skips that job where an
  * earlier Remove Null Rows already proved every null count zero). All
  * safe at 100 TB.
  */
object Transforms {

  private def stringCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case f if f.dataType == StringType => f.name }.toSeq

  private def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }.toSeq

  /** T1 Remove Duplicates: drop rows equal on ALL columns, keep one
    * (transformations_code.py:78-79). Duplicate rows are identical, so
    * pandas' "keep first" and Spark's arbitrary survivor coincide.
    * Shuffle on all columns — Spark's scalable exact dedup.
    */
  def removeDuplicates(df: DataFrame): DataFrame = df.dropDuplicates()

  /** T2 Remove Null Rows: drop a row if ANY column is null
    * (transformations_code.py:81-82 dropna()).
    */
  def removeNullRows(df: DataFrame): DataFrame = df.na.drop("any")

  /** T3 Impute Nulls (transformations_code.py:84-90): numeric columns get
    * the column mean (computed over non-nulls); string columns get "N/A".
    *
    * Pandas fidelity: a numeric column only changes representation when it
    * actually has nulls (pandas already holds it as float64 then), and an
    * all-null column stays null (mean of nothing is NaN; fillna(NaN) is a
    * no-op). We therefore compute null-counts + means in ONE scalar agg job
    * and only rewrite columns that contain nulls, widening them to double
    * exactly where pandas would. One agg job + one projection — two jobs
    * total at any scale, not one per column.
    */
  def imputeNulls(df: DataFrame): DataFrame = impute(df, census = true)

  /** [[imputeNulls]]; `census = false` is for a frame known to hold no
    * null and no NaN in any numeric column, where the census would count
    * zero everywhere: it builds the same plan with no job (every numeric
    * column passes through as `col(c)`, the strings still get "N/A").
    */
  private def impute(df: DataFrame, census: Boolean): DataFrame = {
    val nums = numericCols(df)
    val strs = stringCols(df)
    val withStrings =
      if (strs.isEmpty) df else df.na.fill("N/A", strs)
    if (nums.isEmpty) return withStrings
    // pandas NaN fidelity (code-review r13): in pandas, NaN IS the null
    // — mean() skips it and fillna replaces it. Spark's avg skips only
    // SQL nulls, so a single NaN would poison the mean to NaN and then
    // get "filled" with NaN. Normalize NaN → null on floating columns
    // before both the census and the fill (isnan is only defined on
    // float/double; integral columns cannot hold NaN).
    val floats = df.schema.fields
      .filter(f => f.dataType == DoubleType || f.dataType == FloatType)
      .map(_.name).toSet
    def nanAsNull(c: String) =
      if (floats(c)) when(isnan(col(c)), lit(null)).otherwise(col(c))
      else col(c)
    // the columns to fill: those with nulls and a defined mean
    val means: Map[String, Double] = if (!census) Map.empty else {
      val aggs = nums.flatMap { c =>
        Seq(sum(when(nanAsNull(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
            avg(nanAsNull(c)).as(s"__mean_$c"))
      }
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      nums.flatMap { c =>
        val nNull = row.getAs[Long](s"__nulls_$c")
        Option(row.get(row.fieldIndex(s"__mean_$c")))
          .filter(_ => nNull > 0).map(c -> _.toString.toDouble)
      }.toMap
    }
    val cols = withStrings.columns.map { c =>
      means.get(c).fold(col(c)) { m =>
        coalesce(nanAsNull(c).cast(DoubleType), lit(m)).as(c)
      }
    }
    withStrings.select(cols.toSeq: _*)
  }

  /** The character set [[trimWhitespace]]/[[combineNames]] strip: ASCII
    * whitespace (space, tab, LF, CR, VT, FF) — pandas `str.strip()`
    * strips ALL whitespace, while Spark's one-arg `trim()` strips only
    * 0x20 spaces, so `"x\t"` silently kept its tab (code-review r14).
    * Scope is ASCII: the reference's CSV-borne data carries no exotic
    * unicode spaces, and the oracle SQL mirrors this exact set.
    */
  private[graft] val TrimChars = " \t\n\r\u000B\u000C"

  /** [[TrimChars]] via the [[graft.functions.AsciiStrip]] kernel, not
    * two-arg `trim`: the generic StringTrim trim-set match cost the
    * sf0.1 flagship ~0.2 s when the r14 parity fix landed (VERDICT r14
    * task 2 root-cause — most of the q1_flagship 0.58→0.97 creep); the
    * kernel is an exact byte scan at one-arg-trim speed
    * (TransformsSpec pins kernel == trim(col, TrimChars) equality
    * incl. multibyte and NBSP cases).
    */
  private def strip(c: Column): Column =
    graft.functions.texthash.ascii_strip(c)

  /** T4 Trim Whitespace: strip both ends of every string column
    * (transformations_code.py:92-95, pandas str.strip()).
    */
  def trimWhitespace(df: DataFrame): DataFrame = {
    val strs = stringCols(df).toSet
    if (strs.isEmpty) df
    else df.select(df.columns.map { c =>
      if (strs(c)) strip(col(c)).as(c) else col(c)
    }.toSeq: _*)
  }

  /** T5 Standardize Dates (transformations_code.py:97-110): for each column
    * whose NAME is date-like (SchemaMatch.isDateColumn), normalize values to
    * the string 'yyyy-MM-dd'; unparseable / null → null. Output stays
    * StringType for parity with the reference (which emits strftime strings).
    *
    * Date/Timestamp-typed columns use codegen'd date_format. String columns
    * go through [[DateParse.parseDate]] — an explicit ordered-format,
    * dayfirst-preferring spec replacing dateutil's fuzzy grammar (divergence
    * documented in SURVEY.md §7.5.1).
    */
  def standardizeDates(df: DataFrame): DataFrame = {
    val parse = udf(DateParse.parseDate _)
    val cols = df.schema.fields.map { f =>
      if (SchemaMatch.isDateColumn(f.name)) f.dataType match {
        case DateType | TimestampType | TimestampNTZType =>
          date_format(col(f.name), "yyyy-MM-dd").as(f.name)
        case StringType => parse(col(f.name)).as(f.name)
        case _ => col(f.name) // numeric "date" columns left alone
      } else col(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  /** T6 Combine Names (transformations_code.py:112-121): locate first/last
    * name columns by fuzzy name match (cutoff 0.6); append
    * full_name = strip(first) + " " + strip(last) with nulls → "".
    * NOTE: the single joining space survives even when a side is empty —
    * hence concat, NOT concat_ws (SURVEY.md §7.5.5). No-op when either
    * column is missing, like the reference.
    */
  def combineNames(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    def find(t1: String, t2: String) =
      SchemaMatch.findSimilarColumn(t1, cols, 0.6)
        .orElse(SchemaMatch.findSimilarColumn(t2, cols, 0.6))
    (find("first name", "firstname"), find("last name", "lastname")) match {
      case (Some(f), Some(l)) =>
        def side(c: String): Column =
          strip(coalesce(col(c).cast(StringType), lit("")))
        df.withColumn("full_name", concat(side(f), lit(" "), side(l)))
      case _ => df
    }
  }

  /** T7 Split Names (transformations_code.py:123-127): if full_name exists,
    * rewrite it null→"" and split on the FIRST space only into
    * first_name_split / last_name_split (missing second token → null).
    */
  def splitNames(df: DataFrame): DataFrame = {
    if (!df.columns.contains("full_name")) return df
    val full = coalesce(col("full_name").cast(StringType), lit(""))
    val parts = split(full, " ", 2)
    // get() (not getItem/element_at): out-of-bounds → null under ANSI mode,
    // matching pandas' missing-second-token → None
    df.withColumn("full_name", full)
      .withColumn("first_name_split", get(parts, lit(0)))
      .withColumn("last_name_split", get(parts, lit(1)))
  }

  /** Registry keyed by the reference's display names
    * (transformations_code.py:130-138).
    */
  val registry: Map[String, DataFrame => DataFrame] = Map(
    "Remove Duplicates" -> removeDuplicates,
    "Remove Null Rows" -> removeNullRows,
    "Impute Nulls" -> imputeNulls,
    "Trim Whitespace" -> trimWhitespace,
    "Standardize Dates" -> standardizeDates,
    "Combine Names" -> combineNames,
    "Split Names" -> splitNames,
  )

  /** Stable name order as presented by the reference UI. */
  val names: Seq[String] = Seq(
    "Remove Duplicates", "Remove Null Rows", "Impute Nulls",
    "Trim Whitespace", "Standardize Dates", "Combine Names", "Split Names")

  /** The transforms that can put a null back into a frame Remove Null
    * Rows cleaned: a date that does not parse, a missing second name.
    */
  private val addsNulls = Set("Standardize Dates", "Split Names")

  /** T8 pipeline composition: apply selected transforms in list order
    * (transformations_code.py:140-148). Unknown names are skipped (the
    * reference indexes a dict of known names only).
    *
    * Impute Nulls skips its census job when Remove Null Rows ran earlier
    * in the list and neither Standardize Dates nor Split Names ran since:
    * `na.drop("any")` drops NaN as well as null, and no other transform
    * adds either, so the census would count zero in every column. The
    * plan it builds is the one a zero census gives, so the output is the
    * same rows and schema.
    */
  def pipeline(selected: Seq[String])(df: DataFrame): DataFrame =
    selected.foldLeft((df, false)) { case ((d, nullFree), name) =>
      if (name == "Impute Nulls" && nullFree) (impute(d, census = false), true)
      else registry.get(name).fold((d, nullFree)) { t =>
        (t(d), name == "Remove Null Rows" || nullFree && !addsNulls(name))
      }
    }._1

  /** Whole-table-set map (transformations_code.py:150-162). Building a
    * table's pipeline can run Spark jobs ([[imputeNulls]]' stats pass,
    * when [[pipeline]] does not skip it),
    * so the tables are built concurrently ([[Parallel.map]]); every table
    * has finished when this returns, and the first failure in table order
    * is rethrown.
    */
  def transformAll(tables: Map[String, DataFrame],
                   selected: Seq[String]): Map[String, DataFrame] = {
    val ts = tables.toSeq
    ts.headOption.fold(Map.empty[String, DataFrame]) { case (_, df) =>
      Parallel.map(df.sparkSession, ts) { case (n, t) =>
        n -> pipeline(selected)(t)
      }.toMap
    }
  }
}

/** Deterministic replacement for dateutil.parser.parse(dayfirst=True,
  * fuzzy=True) used by T5 (transformations_code.py:104). The spec is an
  * ordered format list with day-first preference; anything outside it → null.
  * Kept as a plain Scala function so it is unit-testable without Spark and
  * usable from both a UDF and future codegen Expression.
  */
object DateParse {
  import java.time.LocalDate
  import java.time.format.{DateTimeFormatter, ResolverStyle}
  import java.util.Locale

  // Ordered, day-first-preferring format list (uuuu = proleptic year,
  // STRICT). Boolean marks 2-digit-year formats, which get a FIXED
  // 1950-2049 window (00-49 -> 20xx, 50-99 -> 19xx) instead of Java's
  // fixed 2000-2099 base. NOTE this deliberately differs from dateutil,
  // whose window is CURRENT-YEAR +/- 50 (convertyear): "70" parses to
  // 1970 here forever, but to 2070 under dateutil once the current year
  // passes 2020 — a fixed window keeps t5's oracle replayable across
  // years, which matters more than moving-target parity.
  private val formats: Seq[(DateTimeFormatter, Boolean)] = Seq(
    "uuuu-M-d" -> false, "uuuu/M/d" -> false, "uuuu.M.d" -> false, // ISO-ish first
    "d/M/uuuu" -> false, "d-M-uuuu" -> false, "d.M.uuuu" -> false, // dayfirst
    "M/d/uuuu" -> false, "M-d-uuuu" -> false,   // US fallback when day slot > 12
    "d MMM uuuu" -> false, "d MMMM uuuu" -> false, // 3 Jan 2020
    "MMM d uuuu" -> false, "MMMM d uuuu" -> false, // Jan 3 2020
    "MMM d, uuuu" -> false, "MMMM d, uuuu" -> false, // Jan 3, 2020
    "d-MMM-uuuu" -> false, "d-MMM-uu" -> true,   // 03-Jan-2020 / 03-Jan-20
    "d MMM uu" -> true, "d MMMM uu" -> true,     // 3 Jan 20, 2-digit year
    "MMM d, uu" -> true, "MMMM d, uu" -> true,   // Jan 3, 20 / January 3, 20
    "uuuu MMM d" -> false,                      // 2020 Jan 3
    "uuuuMMdd" -> false,
    "d/M/uu" -> true, "d-M-uu" -> true,         // dayfirst, 2-digit year
    "M/d/uu" -> true,                           // US 2-digit fallback
  ).map { case (p, two) =>
    (DateTimeFormatter.ofPattern(p, Locale.US)
      .withResolverStyle(ResolverStyle.STRICT), two)
  }

  private val out = DateTimeFormatter.ofPattern("uuuu-MM-dd")

  private def tryFormats(s: String): Option[String] = {
    val it = formats.iterator
    while (it.hasNext) {
      val (f, twoDigitYear) = it.next()
      try {
        var d = LocalDate.parse(s, f)
        if (twoDigitYear && d.getYear >= 2050) d = d.minusYears(100)
        return Some(d.format(out))
      } catch { case _: Exception => }
    }
    None
  }

  /** Parse to 'yyyy-MM-dd' or null. Day-first preference comes from format
    * ORDER: "03/04/2020" hits d/M/uuuu (April 3rd) before M/d/uuuu, exactly
    * like dayfirst=True; "13/04/2020" fails nothing — it only fits
    * day-first; "04/13/2020" fails day-first and falls through to the US
    * format. If the whole string fails and contains a space, the prefix
    * before the first space is retried ("2020-01-02 10:11:12" → date part) —
    * the useful subset of dateutil's fuzzy=True.
    */
  def parseDate(raw: String): String = {
    if (raw == null) return null
    val s = raw.trim
    if (s.isEmpty) return null
    // every supported format carries at least one digit, so digit-free
    // text can never parse: bail before the formatter storm. Column
    // SELECTION is name-fuzzy (isDateColumn), so a free-text column can
    // reach this UDF, and each unparseable w-space value used to pay
    // ~27·(w+1) exception-throwing parse attempts — the dominant job
    // cost on a prose corpus (code-review r14).
    if (!s.exists(_.isDigit)) return null
    tryFormats(s).orElse {
      // fuzzy=True subset: drop trailing time-ish tokens by retrying every
      // space-prefix LONGEST first — "January 3, 2020 10:30:00" must try
      // the "January 3, 2020" prefix before the bare "January" one — then
      // the ISO-8601 'T' split. Digit-free prefixes skip for the same
      // reason as the whole-string guard.
      val spacePrefixes = s.indices.filter(s.charAt(_) == ' ').reverseIterator
        .map(i => s.substring(0, i)).filter(_.exists(_.isDigit))
        .map(tryFormats)
      spacePrefixes.collectFirst { case Some(d) => d }
        .orElse {
          val t = s.indexOf('T')
          if (t > 0) tryFormats(s.substring(0, t)) else None
        }
    }.orNull
  }
}
