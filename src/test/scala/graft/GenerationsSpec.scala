package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{Generations, Storage}

/** Object-store generation lifecycle (A5's durable flavor): bootstrap ->
  * delete-with-promote -> compact -> vacuum, asserting the two invariants
  * that make the layout object-store-safe: data files are never mutated
  * (old generations stay byte-identical until vacuum) and a delete
  * rewrites ONLY the affected buckets (everything else keeps pointing at
  * its old generation — no table copy). */
class GenerationsSpec extends SparkSpec {

  private def mkLog(ids: Seq[String], nRevs: Int): DataFrame = {
    import spark.implicits._
    ids.flatMap(id => (1 to nRevs).map(r => (id, r)))
      .toDF("ids", "rev")
      .select(
        col("ids").cast("binary").as("id"), col("rev"),
        lit(0).as("pos"), lit(1L).as("ts"), lit("d".getBytes).as("data"))
  }

  private def mkTomb(rows: Seq[(String, Int, Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF("ids", "rev", "pos")
      .select(col("ids").cast("binary").as("id"), col("rev"), col("pos"))
  }

  /** Relative path -> size for every file under `p` (byte-identity probe). */
  private def fileSet(p: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(p)).map(f => f.getPath.stripPrefix(p) -> f.length()).toMap
  }

  test("bootstrap then readCurrent round-trips the log") {
    val root = tmpDir() + "/events"
    val log = mkLog(Seq("a", "b", "c", "d", "e", "f"), nRevs = 3)
    Generations.bootstrap(spark, root, log, nBuckets = 4)
    val cur = Generations.readCurrent(spark, root)
    assert(cur.count() == 18)
    assert(cur.filter(col("id") === lit("c".getBytes)).count() == 3)
    // the bucket partition column survives the manifest-resolved read
    assert(cur.columns.contains("bucket"))
  }

  test("deleteAndPromote rewrites only affected buckets; old generation intact") {
    val root = tmpDir() + "/events"
    val ids = Seq("a", "b", "c", "d", "e", "f")
    Generations.bootstrap(spark, root, mkLog(ids, nRevs = 3), nBuckets = 4)
    val m1 = Generations.readManifest(spark, root).get
    val gen1 = m1.entries.values.toSet.head
    val before = fileSet(s"$root/$gen1")

    val vBucket = Storage.bucketOf("a".getBytes, 4)
    val gen2 = Generations.deleteAndPromote(
      spark, root, mkTomb(Seq(("a", 2, 0))), nBuckets = 4).get

    // survivors visible, tombstoned row gone, everyone else untouched
    val cur = Generations.readCurrent(spark, root)
    assert(cur.count() == 17)
    val aRevs = cur.filter(col("id") === lit("a".getBytes))
      .select("rev").collect().map(_.getInt(0)).sorted
    assert(aRevs.sameElements(Array(1, 3)))

    // immutability: generation 1's files are byte-identical post-promote
    assert(fileSet(s"$root/$gen1") == before)

    // only the victim's bucket moved generations; the rest still point at g1
    val m2 = Generations.readManifest(spark, root).get
    assert(m2.entries(vBucket) == gen2)
    (m1.entries.keySet - vBucket).foreach(b => assert(m2.entries(b) == m1.entries(b)))
    // and the new generation holds ONLY the affected bucket's directory
    val gen2Buckets = new java.io.File(s"$root/$gen2").listFiles()
      .map(_.getName).filter(_.startsWith("bucket=")).toSet
    assert(gen2Buckets == Set(s"bucket=$vBucket"))
  }

  test("fully-tombstoned bucket leaves the manifest") {
    val root = tmpDir() + "/events"
    // nBuckets=64: "x" and "y" land in different buckets (deterministic)
    assert(Storage.bucketOf("x".getBytes) != Storage.bucketOf("y".getBytes))
    Generations.bootstrap(spark, root, mkLog(Seq("x", "y"), nRevs = 2))
    val gen2 = Generations.deleteAndPromote(
      spark, root, mkTomb(Seq(("x", 1, 0), ("x", 2, 0))))
    assert(gen2.nonEmpty)
    val m = Generations.readManifest(spark, root).get
    assert(!m.entries.contains(Storage.bucketOf("x".getBytes)))
    val cur = Generations.readCurrent(spark, root)
    assert(cur.count() == 2)
    assert(cur.filter(col("id") === lit("x".getBytes)).count() == 0)
  }

  test("foreign g-* entries under the root are ignored, never vacuumed") {
    val root = tmpDir() + "/events"
    Generations.bootstrap(spark, root, mkLog(Seq("a", "b"), nRevs = 2), nBuckets = 4)
    // a user-created dir that merely LOOKS like a generation
    val foreign = new java.io.File(s"$root/g-backup")
    assert(foreign.mkdirs())
    // name parsing must skip it (previously: NumberFormatException)
    val gen2 = Generations.compactAndPromote(spark, root)
    assert(gen2 == "g-00000002")
    // vacuum drops the dead g-00000001 but leaves the foreign dir intact
    val dead = Generations.vacuum(spark, root)
    assert(dead == Seq("g-00000001"))
    assert(foreign.exists())
    assert(Generations.readCurrent(spark, root).count() == 4)
  }

  test("time travel: every promote is a readable version until vacuum") {
    val root = tmpDir() + "/events"
    Generations.bootstrap(spark, root, mkLog(Seq("a", "b", "c"), nRevs = 3), nBuckets = 4)
    Generations.deleteAndPromote(spark, root, mkTomb(Seq(("b", 1, 0))), nBuckets = 4)
    val gen3 = Generations.compactAndPromote(spark, root)
    assert(Generations.manifestVersions(spark, root) == Seq(1, 2, 3))

    // v1 = pre-delete, v2 = post-delete, v3 = compacted (== v2's rows)
    assert(Generations.readAt(spark, root, 1).count() == 9)
    assert(Generations.readAt(spark, root, 2).count() == 8)
    assert(Generations.readAt(spark, root, 3).count() == 8)
    assert(Generations.readAt(spark, root, 1)
      .filter(col("id") === lit("b".getBytes)).count() == 3)
    assert(Generations.readAt(spark, root, 2)
      .filter(col("id") === lit("b".getBytes)).count() == 2)
    // the latest version and the current pointer agree
    assert(Generations.readManifestAt(spark, root, 3).get
      == Generations.readManifest(spark, root).get)
    assert(Generations.readManifestAt(spark, root, 99).isEmpty)

    // default vacuum (keepVersions=1) prunes v1/v2's snapshots WITH their
    // generations: v3 still reads, v1/v2 fail fast at manifest resolution
    // (the snapshot is gone — no dangling pointer at deleted parquet paths)
    assert(Generations.vacuum(spark, root).nonEmpty)
    assert(Generations.readAt(spark, root, 3).count() == 8)
    assert(Generations.manifestVersions(spark, root) == Seq(3))
    assert(Generations.readManifestAt(spark, root, 1).isEmpty)
    val e = intercept[RuntimeException](Generations.readAt(spark, root, 1))
    assert(e.getMessage.contains("retention window"))
    assert(Generations.readManifest(spark, root).get.generations == Set(gen3))
  }

  test("diff between promotes: removed/added rows from changed buckets; no-op changes diff empty") {
    val root = tmpDir() + "/events"
    Generations.bootstrap(spark, root, mkLog(Seq("a", "b", "c"), nRevs = 3), nBuckets = 4) // v1
    Generations.deleteAndPromote(spark, root, mkTomb(Seq(("b", 1, 0))), nBuckets = 4)      // v2
    Generations.appendAndPromote(spark, root, mkLog(Seq("z"), nRevs = 2), nBuckets = 4)    // v3
    def rows(vo: Int, vn: Int) = Generations.diff(spark, root, vo, vn)
      .select(col("id").cast("string"), col("rev"), col("change"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(rows(1, 2) == Set(("b", 1, "removed")))
    assert(rows(2, 3) == Set(("z", 1, "added"), ("z", 2, "added")))
    assert(rows(1, 3) == Set(("b", 1, "removed"), ("z", 1, "added"), ("z", 2, "added")))
    assert(rows(2, 2).isEmpty, "identical versions must diff empty")
    // a compaction repoints every bucket's generation but changes no rows:
    // the diff must come back empty even though every entry changed
    Generations.compactAndPromote(spark, root)                                             // v4
    assert(rows(3, 4).isEmpty, "compaction must be row-invisible to diff")
    // reversed direction swaps the labels
    assert(rows(2, 1) == Set(("b", 1, "added")))
    // a historical diff must not depend on the CURRENT table state: after
    // deleting EVERYTHING (readCurrent now fails — empty manifest), the
    // v1-vs-v2 diff still answers
    Generations.deleteAndPromote(spark, root,
      mkTomb(for (id <- Seq("a", "b", "c", "z"); r <- 1 to 3) yield (id, r, 0)),
      nBuckets = 4)                                                                        // v5
    intercept[RuntimeException](Generations.readCurrent(spark, root))
    assert(rows(1, 2) == Set(("b", 1, "removed")),
      "diff between historical versions must survive an empty current table")
  }

  test("vacuum(keepVersions = n) retains a readable time-travel window") {
    val root = tmpDir() + "/events"
    Generations.bootstrap(spark, root, mkLog(Seq("a", "b", "c"), nRevs = 3), nBuckets = 4) // v1
    Generations.deleteAndPromote(spark, root, mkTomb(Seq(("b", 1, 0))), nBuckets = 4)      // v2
    Generations.compactAndPromote(spark, root)                                             // v3
    Generations.deleteAndPromote(spark, root, mkTomb(Seq(("c", 1, 0))), nBuckets = 4)      // v4

    val dropped = Generations.vacuum(spark, root, keepVersions = 2)
    // v3 and v4 both survive — including v3's compacted generation, which
    // v4 also references for untouched buckets
    assert(Generations.manifestVersions(spark, root) == Seq(3, 4))
    assert(Generations.readAt(spark, root, 3).count() == 8)
    assert(Generations.readAt(spark, root, 4).count() == 7)
    // evicted versions fail at resolution, their snapshots are gone
    assert(Generations.readManifestAt(spark, root, 2).isEmpty)
    assert(intercept[RuntimeException](Generations.readAt(spark, root, 2))
      .getMessage.contains("retention window"))
    // dropped = generations referenced only by evicted versions
    assert(dropped.nonEmpty)
    dropped.foreach(g => assert(!new java.io.File(s"$root/$g").exists()))
    // every retained version's generations are fully present
    Seq(3, 4).flatMap(v => Generations.readManifestAt(spark, root, v).get.generations)
      .foreach(g => assert(new java.io.File(s"$root/$g").exists()))
    assert(intercept[IllegalArgumentException](
      Generations.vacuum(spark, root, keepVersions = 0)).getMessage.contains("retain"))
  }

  test("promote is a CAS: a stale expectedVersion conflicts, retry succeeds") {
    import graft.sources.ManifestConflictException
    val root = tmpDir() + "/events"
    Generations.bootstrap(spark, root, mkLog(Seq("a", "b"), nRevs = 2), nBuckets = 4) // v1
    val base = Generations.currentVersion(spark, root)
    val m = Generations.readManifest(spark, root).get

    // writer A commits from base -> v2
    assert(Generations.promote(spark, root, m, base) == base + 1)
    // writer B, still holding base, must NOT silently clobber A's commit
    val e = intercept[ManifestConflictException](Generations.promote(spark, root, m, base))
    assert(e.getMessage.contains("retry"))
    // B re-reads and retries — the documented recovery path
    assert(Generations.promote(spark, root, m, Generations.currentVersion(spark, root)) == base + 2)
    assert(Generations.manifestVersions(spark, root) == Seq(1, 2, 3))
  }

  test("legacy _CURRENT-only root: readable, and the first promote starts the log") {
    // a root written before the manifest log existed has _CURRENT but no
    // _manifests/ — readManifest must fall back to it, and the next
    // promote must upgrade the root to the CAS log without losing state
    val root = tmpDir() + "/events"
    Generations.bootstrap(spark, root, mkLog(Seq("a", "b"), nRevs = 2), nBuckets = 4)
    // strip the log, leaving only the _CURRENT cache (legacy shape)
    val mdir = new java.io.File(s"$root/${Generations.ManifestDir}")
    mdir.listFiles().foreach(f => assert(f.delete()))
    assert(mdir.delete())
    assert(Generations.currentVersion(spark, root) == 0)
    val legacy = Generations.readManifest(spark, root)
    assert(legacy.nonEmpty && legacy.get.entries.nonEmpty)
    assert(Generations.readCurrent(spark, root).count() == 4)

    // first write on the legacy root commits v1 and preserves the state
    Generations.deleteAndPromote(spark, root, mkTomb(Seq(("a", 1, 0))), nBuckets = 4)
    assert(Generations.manifestVersions(spark, root) == Seq(1))
    assert(Generations.readCurrent(spark, root).count() == 3)
    assert(Generations.readAt(spark, root, 1).count() == 3)
  }

  test("concurrent deleteAndPromote under withConflictRetry: both deletes land") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val root = tmpDir() + "/events"
    // 64 buckets: "a" and "b" land in different buckets, but the retry
    // path is exercised regardless — both writers race the same manifest
    Generations.bootstrap(spark, root, mkLog(Seq("a", "b", "c"), nRevs = 3))

    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    def submitDelete(victim: String) =
      pool.submit(new java.util.concurrent.Callable[Option[String]] {
        def call(): Option[String] = {
          start.await()
          Generations.withConflictRetry() {
            Generations.deleteAndPromote(spark, root, mkTomb(Seq((victim, 1, 0))))
          }
        }
      })
    val fa = submitDelete("a")
    val fb = submitDelete("b")
    start.countDown()
    // generous: two threads of real Spark jobs share the test session with
    // whatever else the suite run has in flight on a loaded host
    assert(fa.get(300, TimeUnit.SECONDS).nonEmpty)
    assert(fb.get(300, TimeUnit.SECONDS).nonEmpty)
    pool.shutdown()

    // serializability: the final state reflects BOTH deletes — neither
    // writer silently overwrote the other's promote
    val cur = Generations.readCurrent(spark, root)
    assert(cur.count() == 7)
    assert(cur.filter(col("id") === lit("a".getBytes) && col("rev") === 1).count() == 0)
    assert(cur.filter(col("id") === lit("b".getBytes) && col("rev") === 1).count() == 0)
    assert(cur.filter(col("id") === lit("c".getBytes)).count() == 3)
  }

  test("two racing promoters: exactly one wins, the loser's conflict is retryable") {
    import graft.sources.ManifestConflictException
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val root = tmpDir() + "/events"
    Generations.bootstrap(spark, root, mkLog(Seq("a", "b", "c", "d"), nRevs = 2), nBuckets = 4)
    val base = Generations.currentVersion(spark, root)
    val m = Generations.readManifest(spark, root).get

    val nWriters = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(nWriters)
    val results = (0 until nWriters).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Int]] {
        def call(): Either[Throwable, Int] = {
          start.await()
          try Right(Generations.promote(spark, root, m, base))
          catch { case t: Throwable => Left(t) }
        }
      })
    }
    start.countDown()
    val outcomes = results.map(_.get(300, TimeUnit.SECONDS))
    pool.shutdown()

    val winners = outcomes.collect { case Right(v) => v }
    val losers = outcomes.collect { case Left(t) => t }
    assert(winners == Seq(base + 1), s"expected exactly one winner, got $winners")
    assert(losers.size == nWriters - 1)
    losers.foreach(t => assert(t.isInstanceOf[ManifestConflictException],
      s"loser must get a retryable conflict, got $t"))
    // the committed state is intact and readable
    assert(Generations.currentVersion(spark, root) == base + 1)
    assert(Generations.readCurrent(spark, root).count() == 8)
  }

  test("vacuum never reclaims a racing writer's claimed-but-unpromoted generation") {
    val root = tmpDir() + "/events"
    Generations.bootstrap(spark, root, mkLog(Seq("a", "b", "c"), nRevs = 2), nBuckets = 4) // v1, g1
    Generations.compactAndPromote(spark, root)                                             // v2, g2
    // a racing writer mid-flight: generation claimed, data written, promote
    // still pending — referenced by NO snapshot. Its id must own a bucket
    // a/b/c don't (the manifest maps each bucket to ONE generation; an
    // overlapping raw append would shadow — that path is appendAndPromote's
    // read-merge-write, exercised by StreamingGenerationsSpec)
    val abcBuckets = Seq("a", "b", "c").map(x => Storage.bucketOf(x.getBytes, 4)).toSet
    val freshId = ('d' to 'z').map(_.toString)
      .find(x => !abcBuckets.contains(Storage.bucketOf(x.getBytes, 4))).get
    val gen3 = Generations.claimGeneration(spark, root)
    Storage.appendEvents(mkLog(Seq(freshId), nRevs = 2), s"$root/$gen3", nBuckets = 4)

    // default vacuum prunes v1 + the superseded g1, and MUST leave the
    // in-flight writer's directory and claim marker alone
    val dead = Generations.vacuum(spark, root)
    assert(dead == Seq("g-00000001"))
    assert(new java.io.File(s"$root/$gen3").exists())
    assert(new java.io.File(s"$root/.g-00000003.claim").exists())

    // the writer's promote then lands its data — nothing was half-deleted
    val buckets = spark.read.parquet(s"$root/$gen3")
      .select(col("bucket")).distinct().collect().map(_.getInt(0))
    val m = Generations.readManifest(spark, root).get
    Generations.promote(spark, root,
      Generations.Manifest(m.entries ++ buckets.map(_ -> gen3)),
      Generations.currentVersion(spark, root)): Unit
    val cur = Generations.readCurrent(spark, root)
    assert(cur.count() == 8)
    assert(cur.filter(col("id") === lit(freshId.getBytes)).count() == 2)
  }

  test("orphanGraceMs reclaims stale never-promoted orphans; claim marker survives") {
    val root = tmpDir() + "/events"
    Generations.bootstrap(spark, root, mkLog(Seq("a", "b"), nRevs = 2), nBuckets = 4) // v1, g1
    val gen2 = Generations.claimGeneration(spark, root)
    Storage.appendEvents(mkLog(Seq("x"), nRevs = 1), s"$root/$gen2", nBuckets = 4)
    // default vacuum: the orphan is protected
    assert(Generations.vacuum(spark, root).isEmpty)
    assert(new java.io.File(s"$root/$gen2").exists())
    // explicit zero grace = operator asserts write quiescence: reclaimed
    val dead = Generations.vacuum(spark, root, keepVersions = 1, orphanGraceMs = 0L)
    assert(dead == Seq(gen2))
    assert(!new java.io.File(s"$root/$gen2").exists())
    // the claim marker is kept — numbering skips the reclaimed name forever
    assert(new java.io.File(s"$root/.g-00000002.claim").exists())
    assert(Generations.claimGeneration(spark, root) == "g-00000003")
    assert(Generations.readCurrent(spark, root).count() == 4)
  }

  test("a writer stalled past the grace window fails loudly at promote, not silently") {
    val root = tmpDir() + "/events"
    Generations.bootstrap(spark, root, mkLog(Seq("a", "b"), nRevs = 2), nBuckets = 4) // v1, g1
    val gen2 = Generations.claimGeneration(spark, root)
    Storage.appendEvents(mkLog(Seq("x"), nRevs = 1), s"$root/$gen2", nBuckets = 4)
    // the stalled writer computed its manifest BEFORE the reclaim
    val buckets = spark.read.parquet(s"$root/$gen2")
      .select(col("bucket")).distinct().collect().map(_.getInt(0))
    val intended = Generations.Manifest(
      Generations.readManifest(spark, root).get.entries ++ buckets.map(_ -> gen2))
    // operator reclaims the orphan (writer presumed dead past the lease)
    assert(Generations.vacuum(spark, root, keepVersions = 1, orphanGraceMs = 0L) == Seq(gen2))
    // the zombie writer's promote must NOT commit a manifest referencing
    // reclaimed files — loud failure, table state intact
    val e = intercept[RuntimeException](Generations.promote(
      spark, root, intended, Generations.currentVersion(spark, root)))
    assert(e.getMessage.contains("missing generation"))
    assert(Generations.currentVersion(spark, root) == 1)
    assert(Generations.readCurrent(spark, root).count() == 4)
  }

  test("a reader holding a resolved version keeps reading across a concurrent vacuum") {
    val root = tmpDir() + "/events"
    Generations.bootstrap(spark, root, mkLog(Seq("a", "b", "c"), nRevs = 3), nBuckets = 4) // v1
    Generations.deleteAndPromote(spark, root, mkTomb(Seq(("b", 1, 0))), nBuckets = 4)      // v2
    Generations.compactAndPromote(spark, root)                                             // v3
    Generations.deleteAndPromote(spark, root, mkTomb(Seq(("c", 1, 0))), nBuckets = 4)      // v4
    // reader resolves v3 (inside the keep-2 retention window) BEFORE vacuum
    val reader = Generations.readAt(spark, root, 3)
    assert(Generations.vacuum(spark, root, keepVersions = 2).nonEmpty) // prunes v1/v2 + g1/g2
    // the resolved frame still reads its generation files — vacuum pruned
    // OTHER versions' generations only (on an object store the same holds:
    // retained generations are never touched; only an EVICTED version's
    // reader races vacuum, which is the retention contract)
    assert(reader.count() == 8)
    assert(reader.filter(col("id") === lit("b".getBytes)).count() == 2)
    // evicted versions fail fast at resolution, not mid-scan
    assert(intercept[RuntimeException](Generations.readAt(spark, root, 1))
      .getMessage.contains("retention window"))
  }

  test("compactAndPromote + vacuum drop unreferenced generations only") {
    val root = tmpDir() + "/events"
    Generations.bootstrap(spark, root, mkLog(Seq("a", "b", "c"), nRevs = 3), nBuckets = 4)
    Generations.deleteAndPromote(spark, root, mkTomb(Seq(("b", 1, 0))), nBuckets = 4)
    // both generations are still referenced -> vacuum is a no-op
    assert(Generations.vacuum(spark, root).isEmpty)
    val gen3 = Generations.compactAndPromote(spark, root)
    val m = Generations.readManifest(spark, root).get
    assert(m.generations == Set(gen3))
    // now g1/g2 are dead; vacuum removes exactly them
    val dead = Generations.vacuum(spark, root)
    assert(dead.sorted == Seq("g-00000001", "g-00000002"))
    assert(!new java.io.File(s"$root/g-00000001").exists())
    val cur = Generations.readCurrent(spark, root)
    assert(cur.count() == 8)
    assert(cur.filter(col("id") === lit("b".getBytes)).count() == 2)
  }

  test("a bucket count below 1 is refused by deleteAndRewrite and the generation writers " +
      "before anything is read or written") {
    val dir = tmpDir()
    val log = mkLog(Seq("a", "b", "c"), nRevs = 2)
    Storage.appendEvents(log, s"$dir/events", nBuckets = 4)
    Generations.bootstrap(spark, s"$dir/versioned", log, nBuckets = 4)
    val before = fileSet(dir)
    val tomb = mkTomb(Seq(("a", 1, 0)))
    Seq(0, -3).foreach { n =>
      intercept[IllegalArgumentException](
        Storage.deleteAndRewrite(spark, s"$dir/events", tomb, nBuckets = n))
      intercept[IllegalArgumentException](
        Generations.bootstrap(spark, s"$dir/fresh", log, nBuckets = n))
      intercept[IllegalArgumentException](
        Generations.deleteAndPromote(spark, s"$dir/versioned", tomb, nBuckets = n))
      intercept[IllegalArgumentException](
        Generations.appendAndPromote(spark, s"$dir/versioned", log, nBuckets = n))
    }
    assert(fileSet(dir) == before)
  }
}
