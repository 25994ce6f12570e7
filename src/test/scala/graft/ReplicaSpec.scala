package graft

import graft.catalog.{BucketCatalog, ReplicaSync}
import graft.core.TimeBucketKey
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Commit-log replication: a replica catalog converges to the primary
  * by applying only the partitions each commit names — the reference's
  * WAL-streaming replication semantics (replication/sender.go:14-48,
  * receiver.go:12-40) on the pull model.
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
    assert(syncer.sync() > 0)
    val replica = new BucketCatalog(spark, replicaRoot)
    def rows(c: BucketCatalog) =
      c.read(tbk).orderBy("Epoch").collect().map(r =>
        (r.getAs[Long]("Epoch"), r.getAs[Double]("Open"))).toSeq
    assert(rows(replica) == Seq((60L, 1.0), (120L, 2.5), (180L, 3.0)))
    assert(rows(replica) == rows(primary))

    // nothing new → no commits applied
    assert(syncer.sync() == 0)

    // a range delete propagates (including cleared partitions)
    primary.deleteRange(tbk, 100L, endEpoch = 150L)
    assert(syncer.sync() > 0)
    assert(rows(replica) == Seq((60L, 1.0), (180L, 3.0)))
    assert(rows(replica) == rows(primary))

    // replica is a full catalog: info + symbols line up
    assert(replica.listSymbols("OHLCV") == Seq("AAPL"))
    assert(replica.getInfo("OHLCV")._1.fieldNames.toSeq == Seq("Epoch", "Open"))

    // destroy propagates (it logs a cleared commit) — replicas must
    // not keep serving destroyed buckets
    primary.write(TimeBucketKey.parse("MSFT/1Min/OHLCV"),
      Seq((60L, 9.0)).toDF("Epoch", "Open"))
    assert(syncer.sync() > 0)
    assert(replica.listSymbols("OHLCV").sorted == Seq("AAPL", "MSFT"))
    primary.destroy(TimeBucketKey.parse("MSFT/1Min/OHLCV"))
    assert(syncer.sync() > 0)
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
    assert(new ReplicaSync(spark, primaryRoot, replicaRoot).sync() > 0)
    val replica = new BucketCatalog(spark, replicaRoot)
    assert(replica.listSymbols("OHLCV") == Seq("AAPL", "MSFT"))

    // the replica has no manifest of its own: destroy takes the same
    // rewrite path as on the primary, bootstrapping one
    replica.destroy(msft)
    assert(replica.listSymbols("OHLCV") == Seq("AAPL"))
    assert(replica.read(msft).count() == 0)
    assert(replica.read(aapl).collect().map(r =>
      (r.getAs[Long]("Epoch"), r.getAs[Double]("Open"))).toSeq == Seq((60L, 1.0)))
    assert(replica.listTimeframes("OHLCV", "MSFT").isEmpty)
  }

  test("commit-log rotation: marker resume without rescan, gap falls back to full resync") {
    val primaryRoot = Files.createTempDirectory("graft-rot-primary").toString
    val replicaRoot = Files.createTempDirectory("graft-rot-replica").toString
    val primary = new BucketCatalog(spark, primaryRoot)
    val tbk = TimeBucketKey.parse("AAPL/1Min/ROT")
    primary.create(tbk, ohlcv, isVariable = false)
    // a second group an old commit created and nothing touches again —
    // the full-resync path must carry it even though every record
    // naming it is pruned
    val cold = TimeBucketKey.parse("COLD/1Min/ROTCOLD")
    primary.create(cold, ohlcv, isVariable = false)
    primary.write(cold, Seq((60L, 42.0)).toDF("Epoch", "Open"))

    def rows(c: BucketCatalog, k: TimeBucketKey) =
      c.read(k).orderBy("Epoch").collect().map(r =>
        (r.getAs[Long]("Epoch"), r.getAs[Double]("Open"))).toSeq

    (1 to 6).foreach(i => primary.write(tbk, Seq((i * 60L, i.toDouble)).toDF("Epoch", "Open")))
    val syncer = new ReplicaSync(spark, primaryRoot, replicaRoot)
    assert(syncer.sync() == 7) // 6 ROT commits + 1 ROTCOLD
    val replica = new BucketCatalog(spark, replicaRoot)
    assert(rows(replica, tbk) == rows(primary, tbk))

    // 4 more commits; prune so the oldest retained record is exactly
    // marker+1 — a RESTARTED syncer must resume from the marker and
    // apply only the 4 pending records, not rescan history
    (7 to 10).foreach(i => primary.write(tbk, Seq((i * 60L, i.toDouble)).toDF("Epoch", "Open")))
    assert(primary.pruneCommitLog(keepLast = 4) == 7)
    val restarted = new ReplicaSync(spark, primaryRoot, replicaRoot)
    assert(restarted.sync() == 4)
    assert(rows(replica, tbk) == rows(primary, tbk))
    assert(rows(replica, tbk).map(_._2) == (1 to 10).map(_.toDouble))

    // now lag the replica past the retention window: 3 commits land,
    // rotation keeps only the last — the pruned middle commit makes
    // tailing unsound, so sync must full-resync and still converge
    (11 to 13).foreach(i => primary.write(tbk, Seq((i * 60L, i.toDouble)).toDF("Epoch", "Open")))
    assert(primary.pruneCommitLog(keepLast = 1) == 6)
    assert(restarted.sync() == 1)
    assert(rows(replica, tbk) == rows(primary, tbk))
    assert(rows(replica, cold) == Seq((60L, 42.0))) // cold group carried
    assert(replica.listSymbols("ROT") == Seq("AAPL"))

    // a FRESH replica attaching to the pruned primary bootstraps the
    // same way (empty marker, oldest retained record > 1)
    val freshRoot = Files.createTempDirectory("graft-rot-fresh").toString
    val fresh = new ReplicaSync(spark, primaryRoot, freshRoot)
    assert(fresh.sync() == 1)
    val freshCat = new BucketCatalog(spark, freshRoot)
    assert(rows(freshCat, tbk) == rows(primary, tbk))
    assert(rows(freshCat, cold) == Seq((60L, 42.0)))

    // idempotent: nothing new → nothing applied
    assert(restarted.sync() == 0)
    assert(fresh.sync() == 0)
  }
}
