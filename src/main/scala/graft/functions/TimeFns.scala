package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Time conversions for the event-log model.
  *
  * The reference stores timestamps as .NET FileTime UTC — 100 ns ticks since
  * 1601-01-01 (see /root/reference/src/One.Inception.EventStore.Cassandra/
  * CassandraEventStore.cs:419-420 and the test fixtures using
  * `DateTime.UtcNow.ToFileTimeUtc()`). Its by-event-type index buckets rows
  * into day partitions `pid = year*1000 + dayOfYear`
  * (IndexByEventTypeStore.cs:92-98, PartitionCalculator at :330-336).
  *
  * All arithmetic here stays on longs (no doubles — 2024-epoch nanos exceed
  * the 53-bit double mantissa) and is expressed as Catalyst built-ins so it
  * codegens and pushes down.
  */
object TimeFns {

  /** 100-ns ticks between 1601-01-01 (FileTime epoch) and 1970-01-01 (Unix). */
  val FileTimeEpochTicks: Long = 116444736000000000L

  /** Exact integral division of a long column (floor, non-negative inputs).
    * Plain `/` is double division — epoch-nanos (~1.7e18) exceed the 53-bit
    * double mantissa, so it would be off by up to ~1 us. Decimal arithmetic
    * is exact; Catalyst constant-folds the divisor. */
  def ldiv(a: Column, b: Long): Column =
    floor(a.cast("decimal(38,0)") / lit(b)).cast("long")

  /** Unix epoch micros -> .NET FileTime (100 ns ticks since 1601). */
  def microsToFileTime(us: Column): Column = us * lit(10L) + lit(FileTimeEpochTicks)

  /** .NET FileTime -> unix epoch micros (floor). */
  def fileTimeToMicros(ft: Column): Column = ldiv(ft - lit(FileTimeEpochTicks), 10L)

  /** Unix epoch nanos (long) -> unix epoch micros (floor). Matches DuckDB's
    * ns->us truncation when it reads TIMESTAMP(NANOS) parquet. */
  def nanosToMicros(ns: Column): Column = ldiv(ns, 1000L)

  /** Day-partition id of a timestamp column: `year*1000 + dayOfYear`,
    * the reference's index partition key (IndexByEventTypeStore.cs:92-98). */
  def pid(ts: Column): Column = (year(ts) * lit(1000) + dayofyear(ts)).cast("int")

  /** pid -> first day of that partition as DateType. */
  def pidToDate(p: Column): Column =
    date_add(
      make_date(floor(p / lit(1000)).cast("int"), lit(1), lit(1)),
      (pmod(p, lit(1000)) - lit(1)).cast("int"))

  /** Calendar-aware next pid (the reference's PartitionCalculator.GetNext,
    * IndexByEventTypeStore.cs:306-337 — handles year wrap + leap years,
    * e.g. 2024366 -> 2025001). */
  def nextPid(p: Column): Column = pid(date_add(pidToDate(p), 1))

  /** Scala-side pid math for drivers/tests (mirrors the column versions). */
  def pidOf(date: java.time.LocalDate): Int = date.getYear * 1000 + date.getDayOfYear
  def nextPidOf(p: Int): Int = {
    val d = java.time.LocalDate.ofYearDay(p / 1000, p % 1000).plusDays(1)
    pidOf(d)
  }

  /** Epoch micros for a UTC date-time literal like "2024-01-10T00:00:00". */
  def utcMicros(iso: String): Long = {
    val ldt = java.time.LocalDateTime.parse(iso)
    ldt.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
      ldt.getNano / 1000L
  }
}
