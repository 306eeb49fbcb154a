package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-resilient equi-join: salt the skewed (big) side, replicate the
  * small side across salts, join on (key, salt). The classic manual
  * remedy when one hot key would pin a single reducer at 100 TB scale —
  * AQE's skew-join split handles sort-merge cases automatically, but
  * explicit salting remains the tool for extreme single-key skew and for
  * aggregations-after-join shapes AQE can't rewrite.
  *
  * The salt column is deterministic (hash of the whole row modulo
  * saltFactor), so replays and retries stay stable — no rand().
  */
object SkewJoin {

  /** The big side's salt expression — the ONE definition the join uses,
    * package-visible so the salt-spread test drives the PRODUCT's hash
    * rather than asserting on its own replica (which silently diverged
    * to murmur3 and would pass even if salting stopped spreading —
    * code-review r14).
    *
    * HONEST LIMIT (code-review r18): the salt must be row-deterministic
    * (a nondeterministic salt recomputed across task retries routes the
    * same row to different reducers mid-shuffle — the
    * monotonically_increasing_id corruption class), so byte-IDENTICAL
    * duplicate rows necessarily share one salt: a hot key made of
    * millions of full-duplicate rows is NOT spread. Dedupe first
    * (exact dedup is this engine's cheapest op) or add any
    * distinguishing column; keys whose rows differ anywhere spread
    * fine.
    */
  private[graft] def saltExpr(df: DataFrame,
                              saltFactor: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(df.columns.map(col): _*), lit(saltFactor)).cast("int")

  /** Join types for which salt-and-replicate is result-identical to the
    * plain join: the replicated small side makes right/full outer forms
    * emit one null-extended row per unmatched (key, salt) COPY instead
    * of one per row.
    */
  val saltSafeJoinTypes: Set[String] =
    Set("inner", "left", "left_outer", "leftouter",
      "left_semi", "leftsemi", "left_anti", "leftanti", "cross")

  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String,
                 smallKey: String, saltFactor: Int = 8,
                 joinType: String = "inner"): DataFrame = {
    val joinTypeL = joinType.toLowerCase(java.util.Locale.ROOT)
    require(saltFactor > 0, s"saltFactor must be positive, got $saltFactor")
    // Locale.ROOT (code-review r18, the AsOfJoin discipline): a
    // Turkish-locale JVM lowercases "INNER" to a dotless-ı form that
    // would spuriously fail the whitelist
    require(saltSafeJoinTypes(joinTypeL),
      s"saltedJoin supports ${saltSafeJoinTypes.mkString("/")}, " +
        s"got $joinType (outer forms would duplicate null-extended rows)")
    require(!big.columns.contains("__salt") && !small.columns.contains("__salt"),
      "saltedJoin reserves the __salt column; rename it on the inputs")
    // __salt_rk is the same-named-key rename target below: a small side
    // already carrying it produced AMBIGUOUS_REFERENCE at join build
    // (and the final drop would remove the user's own column)
    require(!small.columns.contains("__salt_rk"),
      "saltedJoin reserves the __salt_rk column; rename it on the small side")
    val salted = big.withColumn("__salt", saltExpr(big, saltFactor))
    // same-named keys: dedupe the small side's key so the output keeps
    // ONE key column — otherwise every downstream col(bigKey) throws
    // AMBIGUOUS_REFERENCE and the frame is unusable at first touch
    val dropSmallKey = bigKey == smallKey &&
      !Set("left_semi", "leftsemi", "left_anti", "leftanti")
        .contains(joinTypeL)
    // ...and when that rename path is live, the final drop("__salt_rk")
    // removes EVERY column of that name — a big-side __salt_rk would
    // silently vanish from the output (code-review r18)
    require(!dropSmallKey || !big.columns.contains("__salt_rk"),
      "saltedJoin reserves the __salt_rk column for same-named keys; " +
        "rename it on the big side")
    val (smallIn, smallKeyIn) =
      if (dropSmallKey)
        (small.withColumnRenamed(smallKey, "__salt_rk"), "__salt_rk")
      else (small, smallKey)
    val replicated = smallIn
      .withColumn("__salt", explode(
        sequence(lit(0), lit(saltFactor - 1))))
    val joined = salted.join(replicated,
      salted(bigKey) === replicated(smallKeyIn) &&
        salted("__salt") === replicated("__salt"),
      joinType)
    (if (dropSmallKey) joined.drop("__salt_rk") else joined).drop("__salt")
  }
}
