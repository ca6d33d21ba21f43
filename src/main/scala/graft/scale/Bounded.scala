package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.LongType

/** The certified-bounded gate: the one place a query chooses between a
  * driver- or broadcast-sized fast path and its distributed fallback,
  * which compute the same rows. The by-name certificate measures the
  * input before anything is collected; the fast path runs only when
  * `budget > 0 && certificate <= budget`. Session conf
  * `spark.graft.bounded.fallback=true` forces every gate to its fallback
  * without running the certificate.
  */
object Bounded {
  val FallbackConf = "spark.graft.bounded.fallback"

  /** Certificate of an input whose non-size premise fails. */
  val Uncertified: Long = Long.MaxValue

  def apply[T](spark: SparkSession, budget: Long)(certificate: => Long)(
      fast: => T)(fallback: => T): T =
    if (!spark.conf.get(FallbackConf, "false").toBoolean && budget > 0 &&
        certificate <= budget) fast
    else fallback

  /** Row count of `df`, or [[Uncertified]] unless every column is bigint
    * (the collected paths read rows with `getLong`).
    */
  def longRows(df: DataFrame): Long =
    if (df.schema.fields.forall(_.dataType == LongType)) df.count() else Uncertified
}
