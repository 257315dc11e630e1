package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** One generated event: its event type and its opaque payload. The payload
  * is `<et>|<filler>` in UTF-8, so the type travels inside the payload as it
  * does in the reference's serialized events, and the index can be derived
  * from the stored rows alone. */
final case class GEvent(et: String, data: Array[Byte])

/** One generated commit of one aggregate: private events take pos 0..n-1 and
  * public events n-1+PublicEventsOffset+k, the layout `Storage.commitToRows`
  * writes. */
final case class GCommit(rev: Int, ts: Long, events: Vector[GEvent], publicEvents: Vector[GEvent]) {
  /** (pos, event) of every row this commit writes, in pos order. */
  def rows: Vector[(Int, GEvent)] =
    events.zipWithIndex.map { case (e, i) => (i, e) } ++
      publicEvents.zipWithIndex.map { case (e, k) =>
        (events.size - 1 + graft.model.Model.PublicEventsOffset + k, e) }
}

/** Traffic dimensions of a generated store. `meanRevs` is the mean number of
  * commits per aggregate; each commit holds 1..3 private events and, one
  * time in five, one public event. */
final case class StoreSpec(aggregates: Int, meanRevs: Int, days: Int, payloadMin: Int, payloadMax: Int)

/** Seeded, partition-independent store generator: aggregate `i` of seed `s`
  * is a pure function of (s, i), so executors can generate any slice and the
  * driver can regenerate any aggregate to compute expected results. */
object Gen {

  /** Eight event types with skewed frequencies (weights 8,6,5,4,3,2,1,1). */
  val Types: Vector[String] = Vector.tabulate(8)(i => f"Contract$i%02d")
  private val TypeCdf: Array[Int] = Array(8, 14, 19, 23, 26, 28, 29, 30)

  /** 2024-01-01T00:00:00Z as .NET FileTime ticks (the store's `ts` unit). */
  val Epoch: Long = 116444736000000000L + 1704067200L * 10000000L
  val DayTicks: Long = 864000000000L

  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Small splitmix64 stream seeded by (seed, stream, i). */
  final class Rng(seed: Long, stream: Long, i: Long) {
    private var s = mix(mix(seed) ^ mix(stream * 0x632BE59BD9B4E019L) ^ mix(i + 0x1234567L))
    def next(): Long = { s += 0x9E3779B97F4A7C15L; mix(s) }
    def below(n: Int): Int = java.lang.Math.floorMod(next(), n.toLong).toInt
    def unit(): Double = (next() >>> 11) * (1.0 / (1L << 53))
  }

  def aggregateId(seed: Long, i: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(16)
    b.putLong(mix(seed * 31 + i)).putLong(mix(i.toLong * 0x2545F4914F6CDD1DL ^ seed))
    b.array()
  }

  private val Alnum = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  private def event(r: Rng, spec: StoreSpec): GEvent = {
    val u = r.below(TypeCdf.last)
    val et = Types(TypeCdf.indexWhere(u < _))
    val len = spec.payloadMin + r.below(spec.payloadMax - spec.payloadMin + 1)
    val sb = new StringBuilder(et.length + 1 + len).append(et).append('|')
    var k = 0
    while (k < len) { sb.append(Alnum.charAt(r.below(Alnum.length))); k += 1 }
    GEvent(et, sb.toString.getBytes(UTF_8))
  }

  /** The commits of aggregate `i`, revisions 1..n in timestamp order. */
  def aggregate(seed: Long, spec: StoreSpec, i: Int): Vector[GCommit] = {
    val r = new Rng(seed, 1, i)
    val n = 1 + r.below(2 * spec.meanRevs - 1)
    val span = spec.days * DayTicks
    val times = Array.fill(n)(Epoch + java.lang.Math.floorMod(r.next(), span)).sorted
    Vector.tabulate(n) { k =>
      val priv = Vector.fill(1 + r.below(3))(event(r, spec))
      val pub = if (r.below(5) == 0) Vector(event(r, spec)) else Vector.empty
      GCommit(k + 1, times(k), priv, pub)
    }
  }

  def etOf(data: Array[Byte]): String = {
    val s = new String(data, UTF_8)
    s.substring(0, s.indexOf('|'))
  }

  // Spark's xxhash64 (seed 42, columns chained, arrays and structs element by
  // element), reproduced driver-side so expected digests never go through the
  // engine under test.
  def hInt(v: Int, h: Long): Long = XXH64.hashInt(v, h)
  def hLong(v: Long, h: Long): Long = XXH64.hashLong(v, h)
  def hBytes(v: Array[Byte], h: Long): Long =
    XXH64.hashUnsafeBytes(v, Platform.BYTE_ARRAY_OFFSET, v.length, h)
  def hString(v: String, h: Long): Long = hBytes(v.getBytes(UTF_8), h)

  /** Order-insensitive digest term: the low 32 bits of a row hash, summed. */
  def low32(h: Long): Long = h & 0xFFFFFFFFL

  /** (pos, data) rows of one commit split into private and public events by
    * the pos-offset rule `EventStoreOps.reassembleCommits` applies: a row is
    * private when its pos equals its index in the pos-sorted commit. */
  def splitByOffset(rows: Seq[(Int, Array[Byte])]): (Seq[(Int, Array[Byte])], Seq[(Int, Array[Byte])]) = {
    val sorted = rows.sortBy(_._1).zipWithIndex
    (sorted.collect { case (r, i) if r._1 == i => r }, sorted.collect { case (r, i) if r._1 != i => r })
  }

  /** xxhash64(id, rev, ts, events, publicEvents) of one reassembled commit. */
  def commitHash(id: Array[Byte], rev: Int, ts: Long,
      priv: Seq[(Int, Array[Byte])], pub: Seq[(Int, Array[Byte])]): Long = {
    var h = hLong(ts, hInt(rev, hBytes(id, 42L)))
    priv.foreach { case (p, d) => h = hBytes(d, hInt(p, h)) }
    pub.foreach { case (p, d) => h = hBytes(d, hInt(p, h)) }
    h
  }
}
