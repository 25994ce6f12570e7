package graft

import graft.catalog.{BucketCatalog, ReplicaSync}
import graft.core.TimeBucketKey
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Manifest replication: a replica catalog converges to the primary
  * by republishing each group whose replica manifest differs from the
  * primary's current one, as its own manifest versions — the
  * reference's WAL-streaming replication semantics
  * (replication/sender.go:14-48, receiver.go:12-40) on the pull model.
  */
class ReplicaSpec extends SparkSpec {
  import spark.implicits._

  private val ohlcv = StructType(Seq(
    StructField("Epoch", LongType), StructField("Open", DoubleType)))

  test("replica converges through writes, upserts and deletes; sync is incremental") {
    val primaryRoot = Files.createTempDirectory("graft-primary").toString
    val replicaRoot = Files.createTempDirectory("graft-replica").toString
    val primary = new BucketCatalog(spark, primaryRoot)
    val tbk = TimeBucketKey.parse("AAPL/1Min/OHLCV")
    primary.create(tbk, ohlcv, isVariable = false)

    // bootstrap write (append branch) + an upsert (stage-swap branch)
    primary.write(tbk, Seq((60L, 1.0), (120L, 2.0)).toDF("Epoch", "Open"))
    primary.write(tbk, Seq((120L, 2.5), (180L, 3.0)).toDF("Epoch", "Open"))

    val syncer = new ReplicaSync(spark, primaryRoot, replicaRoot)
    assert(syncer.sync() == 1)
    val replica = new BucketCatalog(spark, replicaRoot)
    def rows(c: BucketCatalog) =
      c.read(tbk).orderBy("Epoch").collect().map(r =>
        (r.getAs[Long]("Epoch"), r.getAs[Double]("Open"))).toSeq
    assert(rows(replica) == Seq((60L, 1.0), (120L, 2.5), (180L, 3.0)))
    assert(rows(replica) == rows(primary))

    // nothing new → no group republished
    assert(syncer.sync() == 0)

    // a range delete propagates (including cleared partitions)
    primary.deleteRange(tbk, 100L, endEpoch = 150L)
    assert(syncer.sync() == 1)
    assert(rows(replica) == Seq((60L, 1.0), (180L, 3.0)))
    assert(rows(replica) == rows(primary))

    // replica is a full catalog: info + symbols line up
    assert(replica.listSymbols("OHLCV") == Seq("AAPL"))
    assert(replica.getInfo("OHLCV")._1.fieldNames.toSeq == Seq("Epoch", "Open"))

    // destroy propagates (it drops the bucket from the manifest) —
    // replicas must not keep serving destroyed buckets
    primary.write(TimeBucketKey.parse("MSFT/1Min/OHLCV"),
      Seq((60L, 9.0)).toDF("Epoch", "Open"))
    assert(syncer.sync() == 1)
    assert(replica.listSymbols("OHLCV").sorted == Seq("AAPL", "MSFT"))
    primary.destroy(TimeBucketKey.parse("MSFT/1Min/OHLCV"))
    assert(syncer.sync() == 1)
    assert(replica.listSymbols("OHLCV") == Seq("AAPL"))
  }

  test("destroy on a replica root removes the bucket there") {
    val primaryRoot = Files.createTempDirectory("graft-dst-primary").toString
    val replicaRoot = Files.createTempDirectory("graft-dst-replica").toString
    val primary = new BucketCatalog(spark, primaryRoot)
    val aapl = TimeBucketKey.parse("AAPL/1Min/OHLCV")
    val msft = TimeBucketKey.parse("MSFT/1Min/OHLCV")
    primary.create(aapl, ohlcv, isVariable = false)
    primary.write(aapl, Seq((60L, 1.0)).toDF("Epoch", "Open"))
    primary.write(msft, Seq((60L, 9.0)).toDF("Epoch", "Open"))
    assert(new ReplicaSync(spark, primaryRoot, replicaRoot).sync() == 1)
    val replica = new BucketCatalog(spark, replicaRoot)
    assert(replica.listSymbols("OHLCV") == Seq("AAPL", "MSFT"))

    // the replica's manifest is its own: destroy there is an ordinary
    // rewrite commit, as on the primary
    replica.destroy(msft)
    assert(replica.listSymbols("OHLCV") == Seq("AAPL"))
    assert(replica.read(msft).count() == 0)
    assert(replica.read(aapl).collect().map(r =>
      (r.getAs[Long]("Epoch"), r.getAs[Double]("Open"))).toSeq == Seq((60L, 1.0)))
    assert(replica.listTimeframes("OHLCV", "MSFT").isEmpty)
  }

  test("convergence: every group converges; only a changed group republishes") {
    val primaryRoot = Files.createTempDirectory("graft-conv-primary").toString
    val replicaRoot = Files.createTempDirectory("graft-conv-replica").toString
    val primary = new BucketCatalog(spark, primaryRoot)
    // a cold group written once, before every other commit, and never
    // touched again — every sync must still carry it
    val cold = TimeBucketKey.parse("COLD/1Min/CONVCOLD")
    primary.create(cold, ohlcv, isVariable = false)
    primary.write(cold, Seq((60L, 42.0)).toDF("Epoch", "Open"))
    val tbk = TimeBucketKey.parse("AAPL/1Min/CONV")
    primary.create(tbk, ohlcv, isVariable = false)

    def rows(c: BucketCatalog, k: TimeBucketKey) =
      c.read(k).orderBy("Epoch").collect().map(r =>
        (r.getAs[Long]("Epoch"), r.getAs[Double]("Open"))).toSeq
    def write(i: Int) = primary.write(tbk, Seq((i * 60L, i.toDouble)).toDF("Epoch", "Open"))

    // a fresh syncer publishes both groups once
    (1 to 6).foreach(write)
    val syncer = new ReplicaSync(spark, primaryRoot, replicaRoot)
    assert(syncer.sync() == 2)
    val replica = new BucketCatalog(spark, replicaRoot)
    assert(rows(replica, tbk) == rows(primary, tbk))
    assert(rows(replica, cold) == Seq((60L, 42.0)))

    // a restarted syncer, lagging more commits than the manifest
    // retention keeps, collapses them into one publish of the hot group
    // and leaves the cold group as it is
    val coldVersions = replica.manifestVersions("CONVCOLD")
    (7 to 7 + BucketCatalog.ManifestRetention).foreach(write)
    val restarted = new ReplicaSync(spark, primaryRoot, replicaRoot)
    val hotBefore = replica.manifestVersions("CONV").last
    assert(restarted.sync() == 1)
    assert(replica.manifestVersions("CONV").last == hotBefore + 1)
    assert(rows(replica, tbk) == rows(primary, tbk))
    assert(rows(replica, tbk).map(_._2) == (1 to 7 + BucketCatalog.ManifestRetention).map(_.toDouble))
    assert(rows(replica, cold) == Seq((60L, 42.0)))
    assert(replica.manifestVersions("CONVCOLD") == coldVersions)

    // a write to one group republishes exactly that group
    write(100)
    assert(restarted.sync() == 1)
    assert(rows(replica, tbk) == rows(primary, tbk))
    assert(replica.manifestVersions("CONVCOLD") == coldVersions)

    // idle: nothing differs, nothing is published
    val versions = Seq("CONV", "CONVCOLD").map(replica.manifestVersions)
    assert(restarted.sync() == 0)
    assert(syncer.sync() == 0)
    assert(Seq("CONV", "CONVCOLD").map(replica.manifestVersions) == versions)
  }

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.select("Epoch", "Open").orderBy("Epoch").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("a reader pinned on a replica keeps its snapshot across a sync that rewrites its partition") {
    val primaryRoot = Files.createTempDirectory("graft-pin-primary").toString
    val replicaRoot = Files.createTempDirectory("graft-pin-replica").toString
    val primary = new BucketCatalog(spark, primaryRoot)
    val tbk = TimeBucketKey.parse("AAPL/1Min/PIN")
    primary.create(tbk, ohlcv, isVariable = false)
    primary.write(tbk, Seq((60L, 1.0), (120L, 2.0)).toDF("Epoch", "Open"))
    val syncer = new ReplicaSync(spark, primaryRoot, replicaRoot)
    assert(syncer.sync() == 1)
    val replica = new BucketCatalog(spark, replicaRoot)
    val pinned = replica.readGroup("PIN").get
    // an upsert at the partition's max merges: the partition's whole
    // file set is replaced on the primary
    val before = primary.liveFiles("PIN").get.toSet
    primary.write(tbk, Seq((120L, 2.5), (180L, 3.0)).toDF("Epoch", "Open"))
    assert((primary.liveFiles("PIN").get.toSet & before).isEmpty)
    assert(syncer.sync() == 1)
    assert(pairs(pinned) == Seq((60L, 1.0), (120L, 2.0)),
      "a pinned replica read must see the snapshot it pinned")
    assert(pairs(replica.readGroup("PIN").get) == Seq((60L, 1.0), (120L, 2.5), (180L, 3.0)),
      "a fresh replica read must see the sync")
  }

  test("sync never publishes a replica manifest that names a missing primary file") {
    val primaryRoot = Files.createTempDirectory("graft-miss-primary").toString
    val replicaRoot = Files.createTempDirectory("graft-miss-replica").toString
    val primary = new BucketCatalog(spark, primaryRoot)
    val tbk = TimeBucketKey.parse("AAPL/1Min/MISS")
    primary.create(tbk, ohlcv, isVariable = false)
    primary.write(tbk, Seq((60L, 1.0)).toDF("Epoch", "Open"))
    val syncer = new ReplicaSync(spark, primaryRoot, replicaRoot)
    assert(syncer.sync() == 1)
    val replica = new BucketCatalog(spark, replicaRoot)
    // a forward write appends one new file; lose it on the primary
    val synced = primary.liveFiles("MISS").get.toSet
    primary.write(tbk, Seq((120L, 2.0)).toDF("Epoch", "Open"))
    val lost = primary.liveFiles("MISS").get.toSet -- synced
    assert(lost.size == 1)
    Files.delete(java.nio.file.Path.of(primaryRoot, "MISS", lost.head))
    val versionsBefore = replica.manifestVersions("MISS")
    intercept[java.io.FileNotFoundException](syncer.sync())
    assert(replica.manifestVersions("MISS") == versionsBefore, "a failed sync must publish nothing")
    assert(pairs(replica.readGroup("MISS").get) == Seq((60L, 1.0)))
  }

  test("the next sync undoes a mutation on a replica; the replica's vacuum keeps the files it restored") {
    val primaryRoot = Files.createTempDirectory("graft-undo-primary").toString
    val replicaRoot = Files.createTempDirectory("graft-undo-replica").toString
    val primary = new BucketCatalog(spark, primaryRoot)
    val aapl = TimeBucketKey.parse("AAPL/1Min/UNDO")
    val msft = TimeBucketKey.parse("MSFT/1Min/UNDO")
    primary.create(aapl, ohlcv, isVariable = false)
    primary.write(aapl, Seq((60L, 1.0)).toDF("Epoch", "Open"))
    primary.write(msft, Seq((60L, 9.0)).toDF("Epoch", "Open"))
    val syncer = new ReplicaSync(spark, primaryRoot, replicaRoot)
    assert(syncer.sync() == 1) // both commits landed in one group
    val replica = new BucketCatalog(spark, replicaRoot)
    replica.destroy(msft)
    assert(replica.listSymbols("UNDO") == Seq("AAPL"))
    // each sync publishes one replica version: the first restores MSFT's
    // files, and the last runs the replica's vacuum past the grace of
    // the destroy that had removed them
    (1 to BucketCatalog.VacuumGraceCommits + 1).foreach { i =>
      primary.write(aapl, Seq((60L + 60 * i, i.toDouble)).toDF("Epoch", "Open"))
      assert(syncer.sync() == 1)
    }
    assert(replica.listSymbols("UNDO") == Seq("AAPL", "MSFT"))
    assert(pairs(replica.read(msft)) == Seq((60L, 9.0)))
    assert(pairs(replica.read(aapl)) == pairs(primary.read(aapl)))
  }
}
