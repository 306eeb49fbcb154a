package graft.engine

import org.apache.spark.sql.{Column, DataFrame}

/** J1–J6: the reference's auto-mapping stage
  * (/root/reference/ETL_Pipeline_Entire/mapping.py:105-181) — pairwise
  * inner equi-joins with inferred keys, explicit column aliasing, and
  * passthrough of unjoinable tables.
  *
  * Key inference control flow is preserved exactly (FK-first → semantic
  * similarity ≥ 0.8 → literal validation → passthrough, mapping.py:129-181);
  * the unseeded Word2Vec scorer is replaced by the deterministic
  * [[SchemaMatch.nameSimilarity]] (SURVEY.md §7.5.2). Generalization over
  * the reference: the two key columns may have different NAMES (TPC-H-style
  * c_custkey = o_custkey); same-name joins behave identically to
  * mapping.py's generated SQL.
  *
  * Scale notes: the join itself is Catalyst's — small dimension sides get
  * broadcast automatically (autoBroadcastJoinThreshold / AQE), big-big pairs
  * shuffle on the key. Inference runs on schema metadata only (driver-side,
  * O(tables² × columns²) on names — trivial). Nothing about the sweep
  * requires materializing data.
  */
object Mapping {

  /** Per-table metadata the reference introspects from MySQL
    * (first PK column, first FK column — mapping.py:56-63).
    */
  case class TableMeta(pk: Option[String] = None, fk: Option[String] = None)

  val SimilarityThreshold = 0.8 // mapping.py:22

  /** J2 aliasing scheme (mapping.py:113-126): key once under t1's key name;
    * every other t1 column as {col}_{t1name}; every other t2 column as
    * {col}_{t2name}; t2's key column dropped.
    */
  def join(t1: DataFrame, n1: String, k1: String,
           t2: DataFrame, n2: String, k2: String): DataFrame = {
    val l = t1.alias("t1")
    val r = t2.alias("t2")
    // backtick-quote every raw reference: a CSV-sourced header like
    // "order.id" would otherwise parse as a 3-part nested reference and
    // fail the whole merge with UNRESOLVED_COLUMN (code-review r14)
    def q(c: String) = s"`${c.replace("`", "``")}`"
    val cols: Seq[Column] =
      l.col(s"t1.${q(k1)}").as(k1) +:
      (t1.columns.filter(_ != k1)
         .map(c => l.col(s"t1.${q(c)}").as(s"${c}_$n1")) ++
       t2.columns.filter(_ != k2)
         .map(c => r.col(s"t2.${q(c)}").as(s"${c}_$n2"))).toSeq
    l.join(r, l.col(s"t1.${q(k1)}") === r.col(s"t2.${q(k2)}"), "inner")
      .select(cols: _*)
  }

  /** J4 semantic key inference: best column pair with
    * nameSimilarity ≥ 0.8, scanning t1 columns in order against t2 columns
    * (mapping.py:89-103: keeps the FIRST best-scoring pair).
    */
  def inferSemanticKey(cols1: Seq[String],
                       cols2: Seq[String]): Option[(String, String, Double)] = {
    var best: Option[(String, String, Double)] = None
    for (c1 <- cols1; c2 <- cols2) {
      val s = SchemaMatch.nameSimilarity(c1, c2)
      if (s >= SimilarityThreshold && best.forall(_._3 < s))
        best = Some((c1, c2, s))
    }
    best
  }

  /** J3+J4+J5 combined inference for one ordered pair:
    * 1. t1's declared FK, if it appears in t2's columns (mapping.py:146-147)
    * 2. t2's declared FK, if it appears in t1's columns (mapping.py:148-149)
    * 3. semantic similarity ≥ threshold
    * then validation that both sides actually contain their key (J5;
    * trivially true by construction here, kept for same-name parity).
    */
  def inferKey(cols1: Seq[String], meta1: TableMeta,
               cols2: Seq[String], meta2: TableMeta): Option[(String, String)] = {
    // SELECTION mirrors mapping.py:146-149 exactly: fk1 if present in
    // t2's columns, elif fk2 if present in t1's columns, else semantic —
    // then the J5 VALIDATION (mapping.py:171-173) applies to whatever
    // was selected. A selected key that fails validation (e.g. a stale
    // declared FK missing from its own table) vetoes the PAIR; it does
    // NOT fall through to the next candidate — folding validation into
    // selection would let graft merge pairs the reference passes
    // through unchanged.
    val selected = meta1.fk.filter(cols2.contains).map(k => (k, k))
      .orElse(meta2.fk.filter(cols1.contains).map(k => (k, k)))
      .orElse(inferSemanticKey(cols1, cols2).map { case (a, b, _) => (a, b) })
    selected.filter { case (k1, k2) =>
      cols1.contains(k1) && cols2.contains(k2) }
  }

  /** J6 pairwise sweep + passthrough (mapping.py:129-181): every ordered
    * table pair is tried once (both directions marked done after a success);
    * joined outputs are named {t1}_{t2}_merged; tables in no successful pair
    * pass through unchanged. Deterministic iteration: insertion order of
    * `names`.
    *
    * GUARD: the sweep is a driver loop QUADRATIC in table count — the
    * right shape for the reference's interactive 5-table world, but a
    * 10k-table catalog would enqueue ~100M inference attempts (each
    * O(columns²) fuzzy name scoring) and, worse, potentially thousands
    * of join plans. `maxPairs` fails fast instead; callers with wide
    * catalogs should pre-group tables (by schema, subject area, or FK
    * graph) and sweep within groups.
    */
  def mergeTables(tables: Map[String, DataFrame],
                  metas: Map[String, TableMeta] = Map.empty,
                  names: Seq[String] = Nil,
                  maxPairs: Long = 1000000L): Map[String, DataFrame] = {
    val order = if (names.nonEmpty) names else tables.keys.toSeq.sorted
    val nPairs = order.size.toLong * (order.size - 1)
    require(nPairs <= maxPairs,
      s"${order.size} tables => $nPairs ordered pairs exceeds maxPairs=" +
        s"$maxPairs; partition the catalog before sweeping")
    val joined = scala.collection.mutable.Set.empty[(String, String)]
    val out = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    for (n1 <- order; n2 <- order if n1 != n2 && !joined((n1, n2))) {
      val (t1, t2) = (tables(n1), tables(n2))
      inferKey(t1.columns.toSeq, metas.getOrElse(n1, TableMeta()),
               t2.columns.toSeq, metas.getOrElse(n2, TableMeta())) match {
        case Some((k1, k2)) =>
          out += s"${n1}_${n2}_merged" -> join(t1, n1, k1, t2, n2, k2)
          joined += ((n1, n2)); joined += ((n2, n1))
        case None => ()
      }
    }
    for (n <- order if !joined.exists(p => p._1 == n))
      out += n -> tables(n)
    out.toMap
  }
}
