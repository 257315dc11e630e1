package graft.model

/** The logical model of the reference engine
  * (/root/reference/src/One.Inception.EventStore.Cassandra/):
  *
  *  - events table `(id, rev, pos, ts, data)` —
  *    CassandraEventStoreSchema.cs:15, clustering (rev ASC, pos ASC);
  *  - index_by_eventtype `((et, pid), ts, aid, rev, pos)` —
  *    CassandraEventStoreSchema.cs:16;
  *  - message_counter `(msgid, cv)` — Counters/MessageCounter.cs:42;
  *  - message store `(date, ts, data)` — MessageStore/CassandraMessageStore.cs:19-21.
  *
  * `id`/`aid`/`data` are opaque binary in the reference; the engine never
  * interprets payloads. Test data uses long ids — the storage layer buckets
  * ids through a hash so both work (see sources/Storage.scala).
  */
object Model {

  /** Position offset separating public events from private events inside one
    * commit: private events take pos 0..n-1, public events n-1+5+k
    * (AggregateCommitBlock.cs:12 `PublicEventsOffset = 5`, write side
    * CassandraEventStore.cs:72-86). */
  val PublicEventsOffset: Int = 5

  /** One serialized event inside a reassembled commit. */
  case class RawEvent(pos: Int, data: Array[Byte])

  /** Reassembled commit (AggregateCommitBlock.cs:44,71): one revision of one
    * aggregate, private vs public events split by the pos-offset rule. */
  case class AggregateCommit(
      id: Array[Byte],
      rev: Int,
      ts: Long,
      events: Seq[RawEvent],
      publicEvents: Seq[RawEvent])

  case class IndexRecord(et: String, aid: Array[Byte], rev: Int, pos: Int, ts: Long)
}
