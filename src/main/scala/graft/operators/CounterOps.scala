package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** The message counter (SURVEY.md §2 D2/D3; reference
  * /root/reference/src/One.Inception.EventStore.Cassandra/Counters/MessageCounter.cs).
  *
  * Cassandra's distributed counter column is a commutative register updated
  * with `cv = cv ± delta`. The Spark-native equivalent is an append-only
  * increments log folded with a grouped sum — same commutativity, but
  * replayable and exactly-once under task retry (a counter column is not).
  * The "truth" variant computes counts straight from the event log.
  */
object CounterOps {

  /** D2 fold of the increments log `(msgid, delta)` -> current counter
    * values (MessageCounter.cs:63-85). */
  def counters(incrementsLog: DataFrame): DataFrame =
    incrementsLog.groupBy(col("msgid")).agg(sum(col("delta")).as("cv"))

  /** B7/D3 read one counter (MessageCounter.cs:87-111). */
  def getCount(incrementsLog: DataFrame, msgid: String): DataFrame =
    counters(incrementsLog.filter(col("msgid") === msgid))

  /** D3 reset = append a compensating `-current` delta (the reference's
    * read-then-decrement, MessageCounter.cs:113-117, made idempotent-ish
    * as a pure log append). Returns the rows to append. */
  def resetDeltas(incrementsLog: DataFrame, msgid: String): DataFrame =
    getCount(incrementsLog, msgid).select(col("msgid"), (-col("cv")).as("delta"))
}
