package graft.catalog

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.TimeBucketKey
import graft.functions.Uda
import graft.operators.TimeSeries
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Bucket storage over partitioned parquet.
  *
  * Replaces the reference's on-disk catalog tree + year-file format
  * (catalog/catalog.go:18-116; file layout docs/design/
  * file_format_design.txt) with one parquet dataset per AttributeGroup
  * (SURVEY §7.1). The TBK resolves to partition predicates, so
  * Catalyst's partition pruning replaces the reference's directory
  * descent, and parquet min/max stats on Epoch replace the O(1)
  * time-offset arithmetic (utils/io/timeindex.go:32-60).
  *
  * == Physical layout: symbol-BUCKETED data files ==
  * Directories are `timeframe=T/year=Y/sbucket=B` where
  * B = crc32(symbol) mod N (N = `buckets=` in the group meta, default
  * [[BucketCatalog.DefaultSymbolBuckets]]); `symbol` is an ordinary
  * DATA column, SORTED within every file. This decouples the file
  * count of a commit from the symbol cardinality: a batch touching all
  * 16k symbols of the reference's design target
  * (docs/design/file_format_design.txt) commits ≤ N×years files, not
  * 16k — per-symbol directories would put a 1-minute ingest cadence at
  * ~23M files/day on any store. Single-symbol reads stay pruned twice:
  * partition pruning keeps 1/N of the files (the sbucket of the
  * symbol), and the pushed symbol predicate skips parquet row groups
  * via min/max stats on the sorted symbol column. The reference gets
  * the same decoupling from preallocated year files written in place.
  * Trade-off (documented, rare ops): destroy/deleteRange of one symbol
  * rewrite the (timeframe, year, sbucket) slices holding it instead of
  * unlinking a directory.
  *
  * Record-type semantics (utils/io/datatypes.go:12-18):
  *  - FIXED  ⇒ at most one row per (symbol, timeframe, epoch): writes
  *    upsert keyed on epoch — the reference's slot overwrite.
  *  - VARIABLE ⇒ many rows per second, keyed (epoch, nanoseconds);
  *    unsorted writes read back time-ordered (executor/sort.go:11-50).
  *
  * At cluster scale the upsert path rewrites only the
  * (timeframe, year, sbucket) partitions present in the batch:
  * rewrite cost is bounded by touched partitions, not table size.
  * Within a partition, steady FORWARD ingest is cheaper
  * still: the manifest tracks each partition's max Epoch, and a batch
  * whose min epoch strictly exceeds it APPENDS a new file without
  * reading or rewriting the partition at all (no key can collide) —
  * O(batch) per commit, the reference's in-place year-file append
  * re-expressed. Late or overlapping data falls back to the merge
  * rewrite, and a partition reaching [[BucketCatalog.CompactAtFiles]]
  * live files is compacted by routing its next write through the
  * merge path — bounded smallfiles, 1/CompactAtFiles-amortized
  * rewrite amplification.
  *
  * == Snapshot isolation ==
  * Every commit is a MANIFEST flip: staged parquet files (unique
  * names) are moved into the live partition directories, then a new
  * versioned manifest listing the exact live files of the group is
  * published by atomic rename. Readers resolve the file list through
  * the current manifest — never by directory listing — so a reader
  * that planned a query just before a commit keeps reading the files
  * of the snapshot it pinned. Files that leave the live set are
  * retained on disk for [[BucketCatalog.VacuumGraceCommits]] more
  * commits before vacuum deletes them: a read pinned at manifest V is
  * safe until commit V+3 of the same group lands. This is the role the
  * reference's WAL plays for its single server process
  * (executor/wal.go:29-45), re-expressed in the append-only
  * files-plus-log shape object stores replay best. Manifests are
  * INCREMENTAL: most commits publish a small DELTA record (this
  * commit's added/removed files and bucket changes) and every
  * [[BucketCatalog.ManifestCheckpointEvery]]-th commit publishes a
  * full SNAPSHOT — so manifest bytes written per commit are O(changed
  * files), not O(all files), at the reference's design target of 16k
  * symbols × years of partitions. Readers resolve a version from the
  * nearest snapshot at or below it plus the delta fold (bounded by the
  * checkpoint cadence); the writer keeps the resolved live set cached
  * in memory so commits stay O(delta) too.
  *
  * Concurrency contract: mutations are serialized per
  * (root, attributeGroup) by an in-process lock — concurrent writers
  * through one JVM (e.g. the RPC front's request pool) cannot lose
  * acknowledged rows to a read-merge-swap race. Across PROCESSES the
  * contract is single writer per ATTRIBUTE GROUP (r10; the reference
  * is single-writer-per-root only because one server process owns the
  * store and its WAL — on a cluster, ingest of different tables must
  * parallelize) — ENFORCED, not conventional: local roots take an
  * exclusive OS lock on `_graft_writer.lock` (root-wide; a local disk
  * is one node anyway); non-local roots hold a heartbeat lease PER
  * GROUP in `<ag>/_graft_writer.lease` with expiry-based takeover, a
  * monotonic fencing token won by exclusive-create claim files, and a
  * commit-time fence that stops a superseded writer before its
  * manifest flip. A root-level lease remains for root-scoped
  * mutations only (the startup orphan sweep), and group takeovers
  * defer to it. Readers are unlimited in both dimensions. Commits
  * leave a record in the commit log; [[recoverOrphanedStaging]]
  * cleans up after a crashed writer; [[ReplicaSync]] builds read
  * replicas from the commit log.
  */
class BucketCatalog(spark: SparkSession, root: String,
                    leaseExpiryMs: Long = BucketCatalog.DefaultLeaseExpiryMs) {
  import BucketCatalog._

  // Manifest-resolved reads hand Spark an EXPLICIT path per live file;
  // at the reference's ~16k-symbol design target the default parallel
  // file-listing job spawns one task per path (parallelism 10000) and
  // pure task-scheduling overhead dominates the wildcard read
  // (measured ~20 s for a 10k-file group locally). Batch the listing
  // into defaultParallelism tasks instead; only the default is
  // overridden so an operator's explicit setting wins.
  if (spark.conf.getOption("spark.sql.sources.parallelPartitionDiscovery.parallelism")
      .forall(_ == "10000"))
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.parallelism",
      spark.sparkContext.defaultParallelism.toString)

  // Commit staged files task-side (committer algorithm 2) instead of
  // the driver serially merging every output file at job commit —
  // at ~7 ms per checksummed local rename, v1's merge alone costs
  // minutes on a 16k-partition staged write. v2's weaker
  // task-failure atomicity is immaterial here: tasks write into a
  // throwaway per-commit staging dir, and anything a crashed job
  // leaves there is swept by recoverOrphanedStaging.
  if (spark.sparkContext.hadoopConfiguration
      .get("mapreduce.fileoutputcommitter.algorithm.version") == null)
    spark.sparkContext.hadoopConfiguration
      .set("mapreduce.fileoutputcommitter.algorithm.version", "2")

  private def agPath(attGroup: String) = s"$root/$attGroup"
  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val om = new ObjectMapper()

  private def mutate[T](attGroup: String)(body: => T): T = {
    // cross-PROCESS single-writer guard (the in-process writeLock
    // below serializes same-JVM writers): the contract is one writer
    // process per ATTRIBUTE GROUP — the reference enforces one writer
    // per root with an exclusive WAL file lock because it is a
    // single-node server; on a cluster, serializing ingest of
    // DIFFERENT tables behind one root-wide lock is a scale ceiling
    // the commit protocol doesn't need (manifests, version slots and
    // the commit-time CAS are already per-group).
    //  - Local roots: an OS advisory lock on `_graft_writer.lock`,
    //    held for the JVM's lifetime once the first mutation runs and
    //    released automatically on process death (no stale-lockfile
    //    problem). Local disks mean a single node, so the coarser
    //    root-wide scope costs nothing there.
    //  - Non-local roots (HDFS/object stores — no byte-range locks):
    //    a heartbeat LEASE file PER GROUP (`<ag>/_graft_writer.lease`)
    //    enforces the contract — see [[ensureWriterLease]] for the
    //    acquire/renew/takeover rules and [[fenceWriterLease]] for
    //    the commit-time fence a zombie writer cannot pass. The
    //    root-level lease remains for root-scoped mutations only
    //    (the startup orphan sweep).
    if (rootIsLocalFs) BucketCatalog.acquireProcessLock(root, rootIsLocalFs)
    else ensureWriterLease(Some(attGroup))
    writeLock(root, attGroup).synchronized {
      // in-flight/last-mutation bookkeeping for the heartbeat's IDLE
      // RELEASE (r11): a group mutated once must not stay fenced to
      // this process for its whole lifetime — but a long-running
      // commit must never look idle mid-flight, so idleness is
      // "no mutation ACTIVE and none ENDED recently", not time since
      // the last lease renewal
      if (!rootIsLocalFs) BucketCatalog.noteMutationStart(leaseKey(Some(attGroup)))
      try body
      finally if (!rootIsLocalFs) BucketCatalog.noteMutationEnd(leaseKey(Some(attGroup)))
    }
  }

  // ---- writer lease (non-local roots) --------------------------------
  // Scope: Some(attGroup) = the group's lease (`<ag>/_graft_writer
  // .lease`, ordinary mutations); None = the ROOT lease (root-scoped
  // mutations: the startup orphan sweep). Every primitive below is
  // keyed by the scope; group leases are independent, so writers on
  // different groups of one root proceed in parallel.

  private def scopeDir(scope: Option[String]): Path =
    scope.map(g => new Path(agPath(g))).getOrElse(new Path(root))
  private def leasePath(scope: Option[String]) =
    new Path(scopeDir(scope), WriterLeaseFile)
  private def leaseKey(scope: Option[String]) =
    new Path(root).toUri.toString + scope.map("#" + _).getOrElse("")
  private def leaseLock(scope: Option[String]): Object =
    writeLock(root, "__writer_lease" + scope.map(":" + _).getOrElse(""))

  /** (writer, fencing token, wall-clock ms at last renewal), or None
    * if no lease file exists. A read landing in another writer's
    * create-truncate window can see partial JSON — retried once after
    * a short pause; a STILL-unreadable lease throws (refusing loudly)
    * rather than reading as absent, because "absent" licenses a
    * destructive takeover and garbage must never do that.
    */
  private def readLease(scope: Option[String]): Option[(String, Long, Long)] = {
    def once(): Option[(String, Long, Long)] =
      if (!fs.exists(leasePath(scope))) None
      else {
        val in = fs.open(leasePath(scope))
        try {
          val n = om.readTree(in)
          Some((n.get("writer").asText(), n.get("token").asLong(),
            n.get("ts").asLong()))
        } finally in.close()
      }
    try once()
    catch {
      case NonFatal(_) =>
        Thread.sleep(50)
        try once()
        catch {
          case NonFatal(e) =>
            throw new IllegalStateException(
              s"unreadable writer lease at ${leasePath(scope)} " +
                s"(${e.getMessage}); refusing to mutate — repair or " +
                s"remove $WriterLeaseFile manually if it is corrupt", e)
        }
    }
  }

  /** overwrite = true for renewals and for a takeover confirmed by a
    * won CLAIM (we own the slot); exclusive create only for the
    * lease-absent bootstrap. `release` stamps ts = 0 — an explicit
    * hand-back (always-expired, token preserved) so the next acquirer
    * takes over immediately with a bump instead of waiting out the
    * expiry; used when a root-scoped mutation finishes.
    */
  private def writeLease(scope: Option[String], token: Long,
      overwrite: Boolean, release: Boolean = false): Unit = {
    val ts = if (release) 0L else System.currentTimeMillis()
    val body = s"""{"writer": "${BucketCatalog.processWriterId}", """ +
      s""""token": $token, "ts": $ts}"""
    val out = fs.create(leasePath(scope), overwrite)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def claimPath(scope: Option[String], token: Long) =
    new Path(scopeDir(scope), s"$WriterLeaseFile.claim.$token")

  /** Atomic takeover of an expired/absent lease: CLAIM the bumped
    * fencing token by exclusive create of a token-named file. The
    * lease file itself is never deleted, so a racer cannot clobber a
    * winner's fresh lease (the old delete→create window); every
    * contender that read the same expired state computes the SAME
    * claim name, exclusive create admits exactly one, and the rest
    * throw here. Tokens are therefore globally unique across
    * takeovers — two writers can never fence at the same token.
    *
    * A claim whose creator died before rewriting the lease (sub-ms
    * window) would otherwise wedge the slot: a claim older than the
    * lease expiry with the lease still expired is ruled dead and the
    * NEXT token is tried — disagreement about staleness needs a
    * claim within ±expiry of the boundary, at which point the fresh
    * reader refuses and only the stale reader advances, keeping the
    * one-winner-per-slot invariant. Returns the token won.
    */
  /** Atomic create-if-absent with the strongest primitive the root's
    * FileSystem offers: HDFS/object-store creates with overwrite=false
    * are exclusive server-side; Hadoop's LOCAL filesystems implement
    * them as a check-then-act pair, so local roots (incl. re-schemed
    * test roots) go through nio's O_EXCL createFile instead. Returns
    * false when the path already exists (the caller lost the slot).
    */
  private def createExclusive(p: Path, body: String): Boolean =
    graft.core.FsOps.createExclusive(fs, p, body)

  private[graft] def claimTakeover(scope: Option[String], expiredToken: Long): Long = {
    // per-ATTEMPT nonce, not just the writer id: contenders must be
    // distinguishable even inside one process, and the read-back
    // below re-checks authorship as a second fence behind the
    // exclusive create
    val nonce = java.util.UUID.randomUUID().toString
    val body = s"""{"writer": "${BucketCatalog.processWriterId}", """ +
      s""""nonce": "$nonce", "ts": ${System.currentTimeMillis()}}"""
    def lost(t: Long) = throw new IllegalStateException(
      s"lost a writer-lease takeover race on ${leasePath(scope)}: " +
        s"token $t already claimed")
    fs.mkdirs(scopeDir(scope))
    // SPENT claims (token <= the lease's) are swept on ENTRY, never by
    // their winner: a winner that deleted its own claim right after
    // the lease rewrite would recycle the token — a contender that
    // read the same expired state but arrived a few ms late could
    // exclusive-create the SAME claim name again and fence at the
    // winner's token. Takeovers always scan from the lease token + 1,
    // so a spent claim never blocks anyone; it just waits here for the
    // next takeover (whose expiredToken is >= it) to collect it. The
    // 16-slot window matches the scan budget below.
    math.max(1L, expiredToken - 16).to(expiredToken).foreach(s =>
      try fs.delete(claimPath(scope, s), false) catch { case NonFatal(_) => () })
    var t = expiredToken + 1
    while (t <= expiredToken + 16) {
      if (createExclusive(claimPath(scope, t), body)) {
        // read-back arbitration: our nonce must be what the slot holds
        val ok =
          try { val in = fs.open(claimPath(scope, t)); try om.readTree(in).get("nonce").asText() == nonce finally in.close() }
          catch { case NonFatal(_) => false }
        if (!ok) lost(t)
        // stale claims we advanced past (creators died pre-rewrite)
        // are ours to clean; our OWN claim stays until the next
        // takeover's entry sweep (see above)
        (expiredToken + 1).to(t - 1).foreach(s =>
          try fs.delete(claimPath(scope, s), false) catch { case NonFatal(_) => () })
        return t
      } else {
        // claim exists: fresh -> lost the race; stale (creator died
        // before rewriting the lease) -> advance to the next slot.
        // An unreadable claim falls back to file mtime so garbage
        // refuses while fresh but cannot wedge the slot forever.
        val ts =
          try { val in = fs.open(claimPath(scope, t)); try om.readTree(in).get("ts").asLong() finally in.close() }
          catch { case NonFatal(_) =>
            try fs.getFileStatus(claimPath(scope, t)).getModificationTime
            catch { case NonFatal(_) => System.currentTimeMillis() } }
        if (System.currentTimeMillis() - ts < leaseExpiryMs) lost(t)
      }
      t += 1
    }
    throw new IllegalStateException(
      s"writer-lease takeover on ${leasePath(scope)} found " +
        s"${t - expiredToken - 1} stale claim slots — repair or remove " +
        s"$WriterLeaseFile.claim.* manually")
  }

  /** Acquire or renew this process's writer lease for `scope` —
    * Some(attGroup) for ordinary mutations (one lease PER GROUP, so
    * ingest of different tables parallelizes across processes), None
    * for root-scoped mutations (orphan sweep). The single-writer
    * contract is ENFORCED (or at least loud) per scope on filesystems
    * without byte-range locks. Rules:
    *  - our own lease renews (fresh `ts`, token unchanged); renewal
    *    I/O is skipped while the last renewal is younger than a
    *    quarter of the expiry, and a daemon HEARTBEAT re-renews every
    *    quarter-expiry for as long as the lease is held — so a
    *    mutation whose Spark job outlives the expiry (a multi-minute
    *    merge commit is routine at 16k symbols) stays live instead of
    *    presenting as expired and getting superseded mid-commit;
    *  - a foreign lease younger than `leaseExpiryMs` REFUSES the
    *    mutation (another live writer owns the scope);
    *  - an absent or expired lease is taken over with a BUMPED
    *    fencing token won atomically via [[claimTakeover]] (exclusive
    *    create of a token-named claim file — exactly one of N
    *    concurrent contenders wins, tokens are globally unique), then
    *    read back; the commit-time [[fenceWriterLease]] still guards
    *    the publish instant (storage-side CAS remains the
    *    zero-window hook there). A group-lease takeover additionally
    *    refuses while a live foreign ROOT lease exists: the root
    *    lease means a root-scoped mutation (or a pre-split root-wide
    *    writer) owns everything under it.
    * Clock caveat: expiry compares wall clocks across writers, so the
    * contract assumes skew well under the expiry — the standard lease
    * assumption (e.g. Chubby §2.1's bounded clock drift).
    */
  private def ensureWriterLease(scope: Option[String]): Unit =
    leaseLock(scope).synchronized {
      // a mutation is arriving: stamp under the lease lock BEFORE the
      // fast path, so a heartbeat racing this acquisition (both
      // synchronize here) can never idle-release the lease between
      // this return and mutate()'s in-flight bookkeeping — that
      // release would fail the commit at the fence for no reason
      BucketCatalog.leaseLastMutation.put(leaseKey(scope), System.nanoTime())
      val renewNanos = leaseExpiryMs * 1000000L / 4
      val cached = BucketCatalog.leases.get(leaseKey(scope))
      if (cached != null && System.nanoTime() - cached._2 < renewNanos) ()
      else {
        val now = System.currentTimeMillis()
        readLease(scope) match {
          // ts == 0 is an explicit RELEASE — an invitation for anyone
          // to take over. Our own released lease must NOT resurrect
          // via plain renewal (a foreign contender may be mid-takeover
          // on it right now, claim won, rewrite pending — renewal
          // would put two writers at adjacent tokens); fall through to
          // the takeover path, whose claim + belt re-read arbitrate.
          case Some((w, t, ts))
            if w == BucketCatalog.processWriterId && ts != 0L =>
            writeLease(scope, t, overwrite = true)
            BucketCatalog.leases.put(leaseKey(scope), (t, System.nanoTime()))
            startHeartbeat(scope)
          case Some((w, _, ts)) if now - ts < leaseExpiryMs =>
            throw new IllegalStateException(
              s"another writer ($w) holds a live lease on " +
                s"${leasePath(scope)} (age ${now - ts} ms < expiry " +
                s"$leaseExpiryMs ms); the catalog contract is a single " +
                "writer per attribute group — point this writer at its " +
                "own group or wait for the lease to expire")
          case other =>
            // acquiring a GROUP lease defers to a live foreign ROOT
            // lease: a root-scoped mutation (the destructive orphan
            // sweep) — or a root written by the pre-split root-wide
            // protocol — owns every group until it expires or is
            // released (ts = 0). One small read, only on the takeover
            // path, never on renewals.
            if (scope.isDefined) readLease(None) match {
              case Some((w, _, ts))
                if w != BucketCatalog.processWriterId && now - ts < leaseExpiryMs =>
                throw new IllegalStateException(
                  s"another writer ($w) holds a live ROOT lease on $root " +
                    s"(age ${now - ts} ms < expiry $leaseExpiryMs ms); a " +
                    "root-scoped mutation owns all groups — wait for it " +
                    "to finish or for the lease to expire")
              case _ => ()
            }
            // atomic takeover (r9): win the bumped token by exclusive
            // create of a claim file — the lease file is never
            // deleted, so exactly one of N contenders racing the same
            // expired state proceeds and a loser can never clobber
            // the winner's fresh lease (the old delete→create window).
            val t = claimTakeover(scope, other.map(_._2).getOrElse(0L))
            // belt to the claim's braces (r10): re-read the lease
            // right before rewriting it — if it changed since the
            // expired read (the old holder's late heartbeat revived
            // it), abort instead of clobbering a live writer.
            if (readLease(scope) != other)
              throw new IllegalStateException(
                s"lost a writer-lease takeover race on ${leasePath(scope)}: " +
                  "the lease changed between the expired read and the claim")
            try writeLease(scope, t, overwrite = other.isDefined)
            catch {
              case NonFatal(e) => throw new IllegalStateException(
                s"writer-lease takeover on ${leasePath(scope)} won claim " +
                  s"$t but could not rewrite the lease: ${e.getMessage}", e)
            }
            // NOTE: the won claim file is NOT deleted here — deleting
            // it would recycle the token for a contender arriving a
            // few ms late (same expired read, same claim name). The
            // next takeover's entry sweep collects it once the lease
            // token has moved past it.
            readLease(scope) match {
              case Some((w2, t2, _))
                if w2 == BucketCatalog.processWriterId && t2 == t =>
                BucketCatalog.leases.put(leaseKey(scope), (t, System.nanoTime()))
                startHeartbeat(scope)
              case got =>
                throw new IllegalStateException(
                  s"lost a writer-lease takeover race on ${leasePath(scope)}: $got")
            }
        }
      }
    }

  /** Register this scope's daemon lease renewer (once per process and
    * scope): every quarter-expiry, while the leases map says we hold
    * the lease, rewrite it with a fresh `ts` — unless the file shows a
    * foreign writer (we were superseded while idle: stop renewing and
    * drop the held entry so the next mutation refuses/fences cleanly).
    *
    * IDLE RELEASE (r11): a writer that touched a group once would
    * otherwise heartbeat it until process death, blocking foreign
    * writers on that group for its whole lifetime. A scope with no
    * mutation IN FLIGHT and none ended within
    * [[BucketCatalog.IdleReleaseQuarters]] quarter-expiries is handed
    * back instead of renewed (the explicit ts = 0 release, so a
    * foreign acquirer takes over immediately with a token bump rather
    * than waiting out an expiry); this process's next mutation on the
    * group re-acquires through the same takeover path. Idleness is
    * measured from mutation bookkeeping ([[mutate]]), never from
    * renewal times — a multi-minute commit keeps its lease however
    * long its Spark jobs run. Never throws into the scheduler.
    */
  private def startHeartbeat(scope: Option[String]): Unit = {
    val key = leaseKey(scope)
    BucketCatalog.leaseHeartbeats.computeIfAbsent(key, _ =>
      BucketCatalog.leaseScheduler.scheduleWithFixedDelay(
        () => leaseLock(scope).synchronized {
          try {
            Option(BucketCatalog.leases.get(key)).foreach { case (t, _) =>
              if (BucketCatalog.idleBeyond(key,
                  leaseExpiryMs / 4 * BucketCatalog.IdleReleaseQuarters))
                releaseWriterLease(scope)
              else readLease(scope) match {
                case Some((w, t2, _))
                  if w == BucketCatalog.processWriterId && t2 == t =>
                  writeLease(scope, t, overwrite = true)
                  BucketCatalog.leases.put(key, (t, System.nanoTime()))
                case _ => BucketCatalog.leases.remove(key)
              }
            }
          } catch { case NonFatal(_) => () }
        },
        leaseExpiryMs / 4, leaseExpiryMs / 4,
        java.util.concurrent.TimeUnit.MILLISECONDS))
    ()
  }

  /** Hand the scope's lease back (root-scoped mutations release on
    * completion so group writers don't wait out a full expiry): stop
    * the heartbeat, drop the held entry, and stamp the lease file
    * ts = 0 — always-expired with the token PRESERVED, so the next
    * acquirer takes over monotonically (bump via claim) instead of
    * bootstrapping. No-op if we don't hold it.
    */
  private def releaseWriterLease(scope: Option[String]): Unit =
    leaseLock(scope).synchronized {
      val key = leaseKey(scope)
      Option(BucketCatalog.leaseHeartbeats.remove(key)).foreach(_.cancel(false))
      val held = Option(BucketCatalog.leases.remove(key)).map(_._1)
      held.foreach { t =>
        readLease(scope) match {
          case Some((w, t2, _))
            if w == BucketCatalog.processWriterId && t2 == t =>
            try writeLease(scope, t, overwrite = true, release = true)
            catch { case NonFatal(_) => () } // expiry still unblocks
          case _ => () // superseded while idle — nothing ours to release
        }
      }
    }

  /** Commit-time fence (non-local roots): re-read the lease just
    * before the manifest flip and refuse to publish if this process
    * no longer holds it at the token it acquired — a writer that
    * stalled past its expiry and was superseded is refused here,
    * before its staged data can become visible. One small read per
    * commit. Residual window: a contender whose takeover lands
    * BETWEEN this read and the manifest rename publishes concurrently
    * with us — bounding that window to zero needs a storage-side
    * compare-and-set (e.g. S3 conditional PUT keyed on the fencing
    * token, HDFS lease recovery); the monotonic token carried here is
    * the hook for wiring one in. With the heartbeat keeping healthy
    * writers live, entering this window at all requires a writer
    * stalled for a full expiry that wakes in exactly that instant.
    */
  private def fenceWriterLease(scope: Option[String]): Unit = {
    val held = Option(BucketCatalog.leases.get(leaseKey(scope))).map(_._1)
    readLease(scope) match {
      case Some((w, t, _))
        if w == BucketCatalog.processWriterId && held.contains(t) => ()
      case got =>
        throw new IllegalStateException(
          s"writer lease on ${leasePath(scope)} lost before manifest " +
            s"publish (held token $held, found $got); commit fenced — " +
            "another writer superseded this process")
    }
  }

  // local-ness of the root decided from the RESOLVED FileSystem (the
  // same resolution every read/write uses), not the raw URI scheme —
  // a scheme-less root under a non-local fs.defaultFS must NOT take
  // a meaningless lock on the driver's local disk
  // via getUri, not FileSystem.getScheme(): the base-class getScheme
  // THROWS UnsupportedOperationException for implementations that
  // don't override it — RawLocalFileSystem among them, which Bench
  // and the probes install for checksum-free local IO
  private lazy val rootIsLocalFs = fs.getUri.getScheme == "file"

  // resolved (version, files, buckets, partition→maxEpoch ranges) of
  // each group's current manifest; versions are immutable once
  // published, so entries are valid at their exact version and as
  // fold bases for newer deltas
  private val resolvedCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Seq[String], Seq[String], Map[String, Long])]()
  // "attGroup#version" → is-snapshot, so retention checks don't
  // re-read manifest bodies
  private val kindCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Create an attribute group with [[DefaultSymbolBuckets]] symbol
    * buckets (see class doc). The count is recorded in the group meta
    * as `buckets=N` and fixed for the group's lifetime.
    */
  def create(tbk: TimeBucketKey, schema: StructType, isVariable: Boolean): Unit =
    mutate(tbk.attGroup) {
      val meta = new Path(agPath(tbk.attGroup), MetaFile)
      if (!fs.exists(meta)) {
        val out = fs.create(meta, true)
        val kind = (if (isVariable) "variable" else "fixed") +
          s" buckets=$DefaultSymbolBuckets"
        // schema as JSON: unlike DDL it round-trips field metadata
        // (char/varchar length caps for STRING16 enforcement)
        out.write(s"$kind\n${schema.json}\n".getBytes("UTF-8"))
        out.close()
      }
    }

  def isVariable(attGroup: String): Boolean = readMeta(attGroup)._1

  /** The group's symbol-bucket count N (its meta's `buckets=N`). */
  def layoutBuckets(attGroup: String): Int = readMeta(attGroup)._3

  private def readMeta(attGroup: String): (Boolean, StructType, Int) = {
    val meta = new Path(agPath(attGroup), MetaFile)
    val in = fs.open(meta)
    val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    in.close()
    val lines = txt.split("\n")
    val schema = org.apache.spark.sql.types.DataType.fromJson(lines(1))
      .asInstanceOf[StructType]
    val tokens = lines(0).trim.split("\\s+")
    val buckets = tokens.collectFirst {
      case t if t.startsWith("buckets=") => t.stripPrefix("buckets=").toInt
    }.getOrElse(throw new IllegalStateException(
      s"group meta $meta has no buckets= token; the catalog reads only " +
        "the symbol-bucketed layout"))
    (tokens(0) == "variable", schema, buckets)
  }

  private def sbucketOf(symbol: String, n: Int): Int =
    BucketCatalog.symbolBucket(symbol, n)

  private def sbucketCol(n: Int) =
    pmod(crc32(col("symbol").cast("binary")), lit(n.toLong)).cast("int")

  /** Upsert a batch of rows for one bucket. df must carry Epoch (long
    * seconds) + payload columns (+ Nanoseconds for variable buckets —
    * auto-added as 0 otherwise, matching utils/io/rowseries.go:176-181).
    *
    * Callers wanting a written-row count without a second execution
    * attach an `Observation` to `df` BEFORE calling (see
    * SqlService.insert) — the CollectMetrics node rides the write job.
    * The catalog itself stays observation-free: `Observation.get`
    * deadlocks on the stream-execution thread (foreachBatch), which is
    * exactly where the downsample cascade calls [[writeMulti]].
    */
  def write(tbk: TimeBucketKey, df: DataFrame): Unit =
    writeMulti(tbk.attGroup, tbk.timeframe, df.withColumn("symbol", lit(tbk.symbol)))

  /** Write-side type coercion (utils/io/coercecolumn.go:19-130 +
    * GetMissingAndTypeCoercionColumns, columnseries.go:486-542):
    * incoming columns cast to the bucket's declared types, declared
    * columns missing from the batch null-filled, and length-capped
    * strings (STRING16, datatypes.go:78) rejected when too long
    * (mirrors integ test_string16.py "test_too_long_string").
    */
  private def coerce(df: DataFrame, declared: StructType): DataFrame = {
    val byName = df.columns.map(c => c.toLowerCase -> c).toMap
    val cols = declared.fields.toSeq.map { f =>
      val vcLen = org.apache.spark.sql.catalyst.util.CharVarcharUtils
        .getRawType(f.metadata).collect {
          case org.apache.spark.sql.types.VarcharType(n) => n
          case org.apache.spark.sql.types.CharType(n) => n
        }
      byName.get(f.name.toLowerCase) match {
        case Some(src) =>
          val base = if (df.schema(src).dataType == f.dataType) col(src) else col(src).cast(f.dataType)
          vcLen match {
            case Some(n) =>
              when(length(base) > n, raise_error(
                concat(lit(s"string too long for ${f.name} (max $n): "), base)))
                .otherwise(base).as(f.name)
            case None => base.as(f.name)
          }
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    // timeframe rides through when present (the multi-timeframe write
    // keys everything downstream on it); layout keys are never coerced
    val keep = Seq(col("symbol")) ++
      (if (df.columns.contains("timeframe")) Seq(col("timeframe")) else Nil)
    df.select(keep ++ cols: _*)
  }

  /** Multi-symbol upsert: df carries a `symbol` column alongside Epoch
    * + payload. One Spark job upserts every symbol's partition — the
    * cascade/trigger path writes all touched symbols at once instead
    * of a per-symbol job fan-out. A bucket that was never create()d is
    * created from the first batch's schema (executor/writer.go:287-320).
    */
  def writeMulti(attGroup: String, timeframe: String, df: DataFrame): Unit =
    writeMultiTf(attGroup,
      df.drop("timeframe").withColumn("timeframe", lit(timeframe)))

  /** Multi-symbol, multi-TIMEFRAME upsert in ONE manifest commit: df
    * carries `timeframe` alongside `symbol`. Every downstream stage —
    * key dedup, partition routing, append/merge split, the manifest
    * delta — is already keyed on the timeframe COLUMN, so committing
    * N timeframes together costs one commit instead of N. The
    * downsample cascade uses this to land all its destination
    * timeframes atomically per batch (readers never see 5Min updated
    * but 1H stale), and per-batch commit overhead stops scaling with
    * the destination count.
    */
  def writeMultiTf(attGroup: String, df: DataFrame): Unit =
    mutate(attGroup) {
      require(df.columns.contains("symbol"), "writeMulti needs a symbol column")
      require(df.columns.contains("timeframe"), "writeMultiTf needs a timeframe column")
      if (!fs.exists(new Path(agPath(attGroup), MetaFile))) {
        val inferred = StructType(df.schema.fields.filterNot(f =>
          Seq("symbol", "timeframe", "year", "sbucket").contains(f.name)))
        create(TimeBucketKey("__infer", "__multi", attGroup), inferred,
          isVariable = df.columns.contains(Uda.NanosCol))
      }
      val (variable, declared, nb) = readMeta(attGroup)
      val keyed0 = coerce(df, declared)
        .withColumn("year", year(timestamp_seconds(col(Uda.EpochCol))))
      val keyed1 =
        if (variable && !keyed0.columns.contains(Uda.NanosCol))
          keyed0.withColumn(Uda.NanosCol, lit(0))
        else keyed0
      val dedupKeys =
        Seq("symbol", "timeframe", Uda.EpochCol) ++ (if (variable) Seq(Uda.NanosCol) else Nil)
      // collapse in-batch duplicate keys up front: the merge path's
      // unionKeepLast used to absorb them as a side effect, but the
      // append fast path (and group creation) write the batch as-is —
      // the fixed-record "one row per key" contract must not depend
      // on which route the batch takes. The winner is DETERMINISTIC:
      // the row with the greatest value tuple (struct comparison over
      // the non-key columns, CatalogSpec-pinned) — a batch DataFrame
      // carries no row order, so "last write wins" is undefined within
      // one batch and dropDuplicates' plan-dependent survivor would
      // make re-runs diverge. Partial-aggregated (max_by), no window.
      val allCols = keyed1.columns.toSeq
      val valCols = allCols.filterNot(dedupKeys.contains)
      val keyedU =
        if (valCols.isEmpty) keyed1.dropDuplicates(dedupKeys)
        else keyed1.groupBy(dedupKeys.map(col): _*)
          .agg(max_by(struct(allCols.map(col): _*),
            struct(valCols.map(col): _*)).as("__row"))
          .select(allCols.map(c => col(s"__row.$c").as(c)): _*)
      val keyed = keyedU.withColumn("sbucket", sbucketCol(nb))
      // ONE metadata pass over the batch: per-(symbol, timeframe,
      // year) min Epoch — bounded by the symbol cardinality the
      // manifest's bucket registry lists anyway — yields the logical
      // buckets, the touched physical partitions, and the batch's min
      // epoch per partition for append routing.
      val touched = keyed1.groupBy("symbol", "timeframe", "year")
        .agg(min(col(Uda.EpochCol)).as("__mn"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
      val logical = touched.map { case (s, t, _, _) => s"symbol=$s/timeframe=$t" }.toSet
      val batchMin: Map[String, Long] = touched
        .map { case (s, t, y, mn) => (s"timeframe=$t/year=$y/sbucket=${sbucketOf(s, nb)}", mn) }
        .groupBy(_._1).map { case (p, ms) => p -> ms.map(_._2).min }
      // APPEND fast path per partition: when the batch's min epoch
      // strictly exceeds the partition's manifest-tracked max, no key
      // can collide — the batch's rows land as a NEW file and the
      // partition's existing files are never read or rewritten.
      // Steady forward ingest (the 1-minute-bar cadence) is then
      // O(batch) per commit instead of O(accumulated partition) — the
      // merge-rewrite amplification the reference avoids with in-place
      // year files. Late/overlapping data, unknown ranges (pre-feature
      // manifests, post-delete partitions), and partitions whose file
      // count reached CompactAtFiles take the merge path, which
      // rewrites the partition into fresh files (compaction and range
      // healing in the same commit).
      val stored = resolveCurrent(attGroup)
        .map(r => (r._4, r._2)).getOrElse((Map.empty[String, Long], Nil))
      val fileCount: Map[String, Int] = stored._2
        .groupBy(f => f.substring(0, f.lastIndexOf('/')))
        .map { case (p, fsq) => p -> fsq.size }
      val appendable = batchMin.keySet.filter { p =>
        stored._1.get(p).exists(_ < batchMin(p)) &&
          fileCount.getOrElse(p, 0) < CompactAtFiles
      }
      val mergeParts = (batchMin.keySet -- appendable).toSeq
        .map { p =>
          val Array(t, y, sb) = p.split("/").map(_.split("=")(1))
          (t, y.toInt, sb.toInt)
        }
      val merged = readAg(attGroup) match {
        case Some(old) if mergeParts.nonEmpty =>
          val partsDf = spark.createDataFrame(mergeParts)
            .toDF("timeframe", "year", "sbucket")
          val oldAffected = old.join(broadcast(partsDf),
            Seq("timeframe", "year", "sbucket"), "left_semi")
          TimeSeries.unionKeepLast(
            oldAffected.select(keyed.columns.map(col): _*), keyed, dedupKeys)
        case _ => keyed
      }
      stageSwap(merged, attGroup, logicalBuckets = logical, appendParts = appendable)
    }

  /** Recursive walk of `k=v` partition directories under `base`,
    * yielding (leaf partition rel path, file) pairs — the
    * `timeframe=T/year=Y/sbucket=B` leaves of a group or of a staging
    * dir. Engine dirs (`_graft_*`) and dot/underscore files never
    * match.
    */
  private def walkPartitionFiles(base: Path): Seq[(String, Path)] = {
    def rec(dir: Path, rel: String): Seq[(String, Path)] =
      fs.listStatus(dir).toSeq.flatMap { s =>
        val name = s.getPath.getName
        if (s.isDirectory && name.contains("="))
          rec(s.getPath, if (rel.isEmpty) name else s"$rel/$name")
        else if (s.isFile && rel.nonEmpty && !name.startsWith(".") && !name.startsWith("_"))
          Seq((rel, s.getPath))
        else Nil
      }
    if (!fs.exists(base)) Nil else rec(base, "")
  }

  /** All data files on disk under a group's partition dirs, rel paths
    * — the bootstrap listing for pre-manifest roots (and the recovery
    * sweep's view of what physically exists).
    */
  private def listDataFilesOnDisk(attGroup: String): Seq[String] =
    walkPartitionFiles(new Path(agPath(attGroup)))
      .map { case (rel, f) => s"$rel/${f.getName}" }

  // ------------------------------------------------------------ manifests

  private def manifestDirPath(attGroup: String) = new Path(agPath(attGroup), ManifestDir)
  private def manifestName(v: Long) = f"$v%015d.json"

  private def currentManifestVersion(attGroup: String): Option[Long] = {
    val dir = manifestDirPath(attGroup)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .flatMap(n => scala.util.Try(n.stripSuffix(".json").toLong).toOption)
      .maxOption
  }

  /** One manifest record, parsed. Two kinds: a SNAPSHOT ("kind"
    * absent — legacy — or "snapshot") lists the group's complete live
    * state; a DELTA lists only its commit's changes (added/removed
    * files, addBuckets/removeBuckets). Both carry "removed" — the
    * files that left the live set AT that commit — which is what
    * vacuum consumes. `buckets` are the symbol=S/timeframe=T pairs
    * that EXIST, possibly with zero files — a fully-trimmed bucket
    * stays listed (the reference's trim empties a bucket without
    * deleting it, cmd/connect/session/trim.go).
    */
  private def readManifestNode(attGroup: String, v: Long): JsonNode = {
    val in = fs.open(new Path(manifestDirPath(attGroup), manifestName(v)))
    try om.readTree(in) finally in.close()
  }

  private def arr(node: JsonNode, k: String): Seq[String] = {
    val a = node.get(k)
    if (a == null) Nil else (0 until a.size()).map(a.get(_).asText())
  }

  private def isSnapshotNode(node: JsonNode): Boolean = {
    val k = node.get("kind")
    k == null || k.asText() == "snapshot"
  }

  private def isSnapshotVersion(attGroup: String, v: Long): Boolean =
    kindCache.computeIfAbsent(s"$attGroup#$v",
      _ => isSnapshotNode(readManifestNode(attGroup, v)))

  /** Partition→maxEpoch map of one manifest node ("ranges" object;
    * absent on pre-feature manifests → empty, which routes every
    * partition through the merge path until its next rewrite heals
    * the entry from staged-file footer stats).
    */
  private def rangesOf(node: JsonNode, k: String): Map[String, Long] = {
    val o = node.get(k)
    if (o == null) Map.empty
    else {
      val b = Map.newBuilder[String, Long]
      val it = o.fieldNames()
      while (it.hasNext) { val k2 = it.next(); b += (k2 -> o.get(k2).asLong()) }
      b.result()
    }
  }

  /** (files, buckets, ranges) of one manifest version: walk down to
    * the nearest snapshot (or to `from`, an already-resolved lower
    * version — the writer's cache), then fold the deltas back up. The
    * walk is bounded by the checkpoint cadence.
    */
  private def resolveVersion(attGroup: String, v: Long,
      from: Option[(Long, Seq[String], Seq[String], Map[String, Long])] = None)
      : (Seq[String], Seq[String], Map[String, Long]) = {
    var deltas = List.empty[JsonNode]
    var w = v
    var base: (Seq[String], Seq[String], Map[String, Long]) = null
    while (base == null) {
      from match {
        case Some((cv, cf, cb, cr)) if cv == w => base = (cf, cb, cr)
        case _ =>
          if (w < 1) throw new IllegalStateException(
            s"no snapshot manifest at or below v$v for $attGroup")
          val node =
            try readManifestNode(attGroup, w)
            catch { case _: java.io.FileNotFoundException =>
              throw new IllegalArgumentException(
                s"manifest v$w needed to resolve v$v of $attGroup is gone " +
                  s"(retained: ${manifestVersions(attGroup).mkString(", ")})")
            }
          kindCache.put(s"$attGroup#$w", isSnapshotNode(node))
          if (isSnapshotNode(node))
            base = (arr(node, "files"), arr(node, "buckets"), rangesOf(node, "ranges"))
          else { deltas ::= node; w -= 1 } // prepend ⇒ ascending fold order
      }
    }
    var files = base._1
    var buckets = base._2.toSet
    var ranges = base._3
    deltas.foreach { d =>
      val removed = arr(d, "removed").toSet
      files = files.filterNot(removed) ++ arr(d, "added")
      buckets = buckets ++ arr(d, "addBuckets") -- arr(d, "removeBuckets")
      ranges = ranges ++ rangesOf(d, "setRanges") -- arr(d, "clearRanges")
    }
    (files, buckets.toSeq, ranges)
  }

  /** (version, files, buckets, ranges) of the current manifest
    * through the instance cache. Published versions are immutable, so
    * a cache hit at the exact current version is always valid; a
    * cache at a lower version serves as the fold base for the newer
    * deltas (saving the snapshot re-read on the single-writer's hot
    * path).
    */
  private def resolveCurrent(attGroup: String)
      : Option[(Long, Seq[String], Seq[String], Map[String, Long])] =
    currentManifestVersion(attGroup).map { v =>
      val cached = Option(resolvedCache.get(attGroup)).filter(_._1 <= v)
      val (files, buckets, ranges) = cached match {
        case Some((cv, cf, cb, cr)) if cv == v => (cf, cb, cr)
        case _ => resolveVersion(attGroup, v, cached)
      }
      val r = (v, files, buckets, ranges)
      resolvedCache.put(attGroup, r)
      r
    }

  /** Live data files (rel paths under the group dir) per the current
    * manifest — the read snapshot. None ⇒ no manifest yet (a
    * pre-manifest root; readers fall back to directory listing).
    */
  def liveFiles(attGroup: String): Option[Seq[String]] =
    resolveCurrent(attGroup).map(_._2)

  /** Existing buckets ("symbol=S/timeframe=T", possibly empty of
    * files) per the current manifest — None if no manifest.
    */
  def liveBuckets(attGroup: String): Option[Seq[String]] =
    resolveCurrent(attGroup).map(_._3)

  /** Files referenced by ANY retained manifest version (live + grace-
    * retained) — None if no manifest. Anything on disk outside this
    * set is foreign: a crashed move or an out-of-band write. Coverage
    * without per-version resolution: a file live at retained version v
    * is either in v's base snapshot (itself retained — pruning never
    * drops a needed base) or in some retained delta's "added".
    */
  def referencedFiles(attGroup: String): Option[Set[String]] = {
    val dir = manifestDirPath(attGroup)
    if (!fs.exists(dir)) None
    else Some(manifestVersions(attGroup).flatMap { v =>
      val node = readManifestNode(attGroup, v)
      arr(node, "files") ++ arr(node, "added") ++ arr(node, "removed")
    }.toSet)
  }

  /** All data files physically present under the group's partition
    * dirs (live + grace + foreign) — the integrity tool's disk view.
    */
  def dataFilesOnDisk(attGroup: String): Seq[String] = listDataFilesOnDisk(attGroup)

  /** Atomic manifest flip with EXCLUSIVE version-slot semantics — the
    * commit-time CAS the lease fence's doc names as the zero-window
    * hook: versions are immutable once published, so the publish is a
    * rename that must FAIL if the destination version already exists.
    * HDFS rename refuses an existing destination; Hadoop's local
    * filesystems overwrite silently (POSIX renameTo), so local roots
    * go through nio's no-REPLACE move, which is atomic and throws on
    * an occupied slot. A zombie writer that slipped past the lease
    * fence therefore loses the version-slot race instead of silently
    * clobbering (or being clobbered by) the live writer's commit.
    */
  private[graft] def publishManifest(
      attGroup: String, v: Long, map: java.util.LinkedHashMap[String, Any]): Unit = {
    val dir = manifestDirPath(attGroup)
    fs.mkdirs(dir)
    // tmp is unique PER ATTEMPT (writer id + nonce), never a shared
    // deterministic name: with a shared `.tmp_<v>` a zombie writer
    // racing the live one could overwrite tmp after the live writer
    // wrote it but before its move, and the slot winner would then
    // atomically publish the LOSER's bytes — the CAS would guarantee
    // slot exclusivity without content integrity. Each contender
    // moves only bytes it wrote itself.
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(dir, s".tmp_${attempt}_${manifestName(v)}")
    val out = fs.create(tmp, true)
    out.write(om.writeValueAsBytes(map))
    out.close()
    val dst = new Path(dir, manifestName(v))
    def dropTmp(): Unit = {
      try fs.delete(tmp, false) catch { case NonFatal(_) => () }
      try fs.delete(new Path(dir, s".${tmp.getName}.crc"), false)
      catch { case NonFatal(_) => () }
    }
    // the slot CAS itself is the shared no-overwrite rename (see
    // FsOps.renameNoOverwrite for the per-FileSystem requirements); a
    // storage error with no destination present throws from there —
    // drop the loser tmp before letting it propagate
    // the slot CAS (and the checksummed-fs .crc-twin carry on a win)
    // is the shared no-overwrite rename
    val renamed =
      try graft.core.FsOps.renameNoOverwrite(fs, tmp, dst)
      catch { case e: java.io.IOException => dropTmp(); throw e }
    if (!renamed) {
      dropTmp() // the loser's bytes must not linger as a publishable tmp
      throw new IllegalStateException(
        s"could not publish manifest v$v for $attGroup — version slot " +
          "already occupied (a concurrent writer committed it); this " +
          "commit is fenced")
    }
  }

  private def rangesMap(ranges: Map[String, Long]): java.util.LinkedHashMap[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    ranges.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def writeSnapshot(
      attGroup: String, v: Long, files: Seq[String], removed: Seq[String],
      buckets: Seq[String], ranges: Map[String, Long]): Unit = {
    val map = new java.util.LinkedHashMap[String, Any]()
    map.put("version", v)
    map.put("kind", "snapshot")
    map.put("files", files.sorted.asJava)
    map.put("removed", removed.sorted.asJava)
    map.put("buckets", buckets.sorted.asJava)
    map.put("ranges", rangesMap(ranges))
    publishManifest(attGroup, v, map)
    kindCache.put(s"$attGroup#$v", true)
  }

  private def writeDelta(
      attGroup: String, v: Long, added: Seq[String], removed: Seq[String],
      addBuckets: Seq[String], removeBuckets: Seq[String],
      setRanges: Map[String, Long], clearRanges: Seq[String]): Unit = {
    val map = new java.util.LinkedHashMap[String, Any]()
    map.put("version", v)
    map.put("kind", "delta")
    map.put("added", added.sorted.asJava)
    map.put("removed", removed.sorted.asJava)
    map.put("addBuckets", addBuckets.sorted.asJava)
    map.put("removeBuckets", removeBuckets.sorted.asJava)
    map.put("setRanges", rangesMap(setRanges))
    map.put("clearRanges", clearRanges.sorted.asJava)
    publishManifest(attGroup, v, map)
    kindCache.put(s"$attGroup#$v", false)
  }

  /** Flip the group's manifest: every file under a partition in
    * `replacedParts` leaves the live set, `addedFiles` join it. The
    * flip (a rename) is the commit point; the old snapshot's files
    * stay readable for [[VacuumGraceCommits]] more commits.
    */
  private def commitManifest(
      attGroup: String, replacedParts: Set[String], addedFiles: Seq[String],
      logParts: Seq[String], addBuckets: Set[String] = Set.empty,
      removeBuckets: Set[String] = Set.empty,
      setRanges: Map[String, Long] = Map.empty,
      clearRanges: Set[String] = Set.empty): Unit = {
    // the manifest flip is the commit point: on lease-guarded roots a
    // superseded writer must be stopped HERE, before its staged files
    // can become visible
    if (!rootIsLocalFs) fenceWriterLease(Some(attGroup))
    // bootstrap a pre-manifest root (a replica copy) from its
    // directory listing — minus the files this very commit just moved
    // in. symbol is a data column, not a path segment, so the
    // (symbol, timeframe) registry costs a one-time distinct scan —
    // only when the root already held files: a new group's first
    // commit has nothing to register beyond its own buckets
    val added = addedFiles.toSet
    def partOf(f: String) = f.substring(0, f.lastIndexOf('/'))
    val (prevV, prev, prevBuckets, prevRanges) = resolveCurrent(attGroup) match {
      case Some((pv, files, buckets, ranges)) => (pv, files, buckets, ranges)
      case None =>
        val files = listDataFilesOnDisk(attGroup).filterNot(added)
        val registry =
          if (files.isEmpty) Nil
          else readAg(attGroup) match {
            case Some(old) => old.select("symbol", "timeframe").distinct()
              .collect().toSeq
              .map(r => s"symbol=${r.getString(0)}/timeframe=${r.getString(1)}")
            case None => Nil
          }
        (0L, files, registry, Map.empty[String, Long])
    }
    val (dead, kept) = prev.partition(f => replacedParts.contains(partOf(f)))
    val v = prevV + 1
    val newFiles = kept ++ addedFiles
    val newBuckets = (prevBuckets.toSet ++ addBuckets -- removeBuckets).toSeq
    val newRanges = prevRanges ++ setRanges -- clearRanges
    // snapshot checkpoints at v = 1, 1+E, 1+2E, …; every other commit
    // publishes only its delta — O(changed files) manifest bytes. The
    // delta's addBuckets subtracts already-registered entries: a wide
    // steady-state commit re-touching every symbol would otherwise
    // re-list the whole O(symbols) logical registry in every delta
    if ((v - 1) % ManifestCheckpointEvery == 0)
      writeSnapshot(attGroup, v, newFiles, dead, newBuckets, newRanges)
    else
      writeDelta(attGroup, v, addedFiles, dead,
        (addBuckets -- prevBuckets.toSet).toSeq, removeBuckets.toSeq,
        setRanges, clearRanges.toSeq)
    resolvedCache.put(attGroup, (v, newFiles, newBuckets, newRanges))
    vacuum(attGroup, v)
    logCommit(attGroup, logParts)
  }

  /** Physically delete the files that left the live set
    * [[VacuumGraceCommits]] commits ago (readers pinned to that
    * snapshot have long finished), prune now-empty partition dirs, and
    * drop manifest versions beyond [[ManifestRetention]].
    */
  private def vacuum(attGroup: String, committed: Long): Unit = {
    val graceV = committed - VacuumGraceCommits
    if (graceV >= 1 && fs.exists(new Path(manifestDirPath(attGroup), manifestName(graceV)))) {
      val removed = arr(readManifestNode(attGroup, graceV), "removed")
      val stop = new Path(agPath(attGroup))
      removed.foreach { rel =>
        try {
          val f = new Path(agPath(attGroup), rel)
          if (fs.exists(f)) fs.delete(f, false)
          var parent = f.getParent
          while (parent != null && !parent.equals(stop) &&
              fs.exists(parent) && fs.listStatus(parent).isEmpty) {
            fs.delete(parent, true)
            parent = parent.getParent
          }
        } catch { case NonFatal(e) =>
          log.warn(s"vacuum of $attGroup/$rel failed: ${e.getMessage}")
        }
      }
    }
    // prune manifests past the retention window — but never the
    // snapshot base (or intermediate deltas) the window's oldest
    // version still needs to resolve
    val versions = manifestVersions(attGroup)
    val minRetained = math.max(1L, committed - ManifestRetention + 1)
    val base = versions.filter(v => v <= minRetained && isSnapshotVersion(attGroup, v))
      .maxOption
    base.foreach { b =>
      versions.filter(_ < b).foreach { v =>
        fs.delete(new Path(manifestDirPath(attGroup), manifestName(v)), false)
        kindCache.remove(s"$attGroup#$v")
      }
    }
  }

  /** Stage-and-commit shared by every write path: materialize `df`
    * fully into a staging directory, move each staged file (Spark part
    * file names are job-unique) into its live partition directory,
    * then flip the manifest — see the class doc's snapshot-isolation
    * contract. A mid-move crash leaves unreferenced files that the
    * next [[recoverOrphanedStaging]] sweeps; the live snapshot is
    * never touched until the manifest rename. Partitions in
    * `clearIfUnstaged` that produced no staged output leave the live
    * set (a rewrite that emptied them).
    */
  private def stageSwap(df: DataFrame, attGroup: String,
      clearIfUnstaged: Seq[String] = Nil,
      logicalBuckets: Set[String] = Set.empty,
      removeBuckets: Set[String] = Set.empty,
      appendParts: Set[String] = Set.empty): Unit = {
    val groupDir = agPath(attGroup)
    val staging = new Path(root, s"$StagingPrefix${attGroup}_${System.nanoTime()}")
    // repartition on the partition key so the staged write spreads
    // file creation across the executors: without it a dynamic
    // partition write funnels through the input's few tasks and the
    // ~25 ms/file parquet open/close constant serializes. The
    // EXPLICIT partition count matters: AQE coalesces a bare keyed
    // repartition of a small-byte batch back to one partition (row
    // bytes are tiny; the file-count cost AQE can't see is not), and
    // user-numbered repartitions are exempt from coalescing.
    val partitionCols = Seq("timeframe", "year", "sbucket")
    // files keep rows (symbol, Epoch[, Nanoseconds])-sorted: parquet
    // row-group min/max stats on the sorted symbol column are what
    // keeps single-symbol reads skipping inside shared files. The sort
    // leads with the partition columns, so FileFormatWriter sees its
    // required partition ordering already satisfied and inserts no
    // second sort of its own.
    val sortCols = (partitionCols ++ Seq("symbol", Uda.EpochCol) ++
      (if (df.columns.contains(Uda.NanosCol)) Seq(Uda.NanosCol) else Nil))
      .map(col)
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
        partitionCols.map(col): _*)
      .sortWithinPartitions(sortCols: _*)
      .write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(staging.toString)
    try {
      val stagedParts = scala.collection.mutable.Set[String]()
      val moves = scala.collection.mutable.ArrayBuffer[(String, Path)]()
      walkPartitionFiles(staging).foreach { case (rel, f) =>
        stagedParts += rel
        moves += ((rel, f))
      }
      // per-partition max Epoch from the staged files' parquet footer
      // stats — the manifest range registry the append fast-path
      // consults. Exact in every path that reaches here: a MERGE
      // partition's staged files are its complete new content, an
      // APPEND partition's batch max exceeds the stored max by
      // eligibility, and deleteRange/trim rewrites heal their entries
      // to the kept rows' true max. ≤ files-per-commit footer reads.
      // A partition records a range ONLY when every one of its staged
      // files exposes Epoch stats — one unreadable footer among
      // readable ones would otherwise record an understated max and
      // let a later overlapping batch take the append path (duplicate
      // keys); partially-visible partitions fall into the clearRanges
      // set below, routing their future writes through the safe merge
      val stagedRanges: Map[String, Long] = moves.toSeq
        .groupBy(_._1)
        .flatMap { case (rel, fsOfPart) =>
          val maxes = fsOfPart.map { case (_, f) => footerMaxEpoch(f) }
          if (maxes.forall(_.isDefined)) Some(rel -> maxes.flatten.max) else None
        }
      // the staged→live moves are independent renames into distinct
      // targets: run them on a bounded pool — serial, the ~7 ms
      // checksummed-rename constant is a minute-plus at the 16k-symbol
      // design target (FileSystem instances are thread-safe; any
      // failure rethrows via Future.get before the manifest flip)
      val movedFiles: Seq[String] = {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(32, Runtime.getRuntime.availableProcessors()))
        try {
          val tasks: Seq[java.util.concurrent.Callable[String]] =
            moves.toSeq.map { case (rel, src) =>
              (() => {
                val targetDir = new Path(groupDir, rel)
                fs.mkdirs(targetDir)
                if (!fs.rename(src, new Path(targetDir, src.getName)))
                  throw new IllegalStateException(
                    s"failed to move staged file ${src.getName} into $targetDir")
                s"$rel/${src.getName}"
              }): java.util.concurrent.Callable[String]
            }
          pool.invokeAll(tasks.asJava).asScala.toSeq.map(_.get())
        } finally pool.shutdownNow()
      }
      // a rewrite keeps its buckets listed even when it emptied them
      // (trim semantics: the bucket exists with zero rows). Physical
      // partition names carry no symbol, so the logical
      // (symbol, timeframe) registry entries come from the caller.
      commitManifest(attGroup,
        (stagedParts.toSet -- appendParts) ++ clearIfUnstaged,
        movedFiles,
        logParts = stagedParts.toSeq.sorted ++
          clearIfUnstaged.filterNot(stagedParts).map(_ + ":cleared"),
        addBuckets = logicalBuckets,
        removeBuckets = removeBuckets,
        setRanges = stagedRanges,
        // a staged partition with NO readable footer max must DROP
        // its range entry, not keep the stale one — a stale max would
        // let a later overlapping batch take the append path and land
        // duplicate keys silently; no entry routes it to the safe
        // merge, which heals the entry
        clearRanges = (clearIfUnstaged.toSet -- stagedParts) ++
          (stagedParts.toSet -- stagedRanges.keySet))
    } finally fs.delete(staging, true)
  }

  /** Max value of the Epoch column across a parquet file's row-group
    * footer stats — None if the file has no Epoch stats (never the
    * case for catalog-written files; the guard keeps foreign files
    * from failing a commit).
    */
  private def footerMaxEpoch(file: Path): Option[Long] =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(file, spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val maxes = r.getFooter.getBlocks.asScala.flatMap { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == Uda.EpochCol)
            .flatMap { c =>
              val st = c.getStatistics
              if (st == null || !st.hasNonNullValue) None
              else st.genericGetMax match {
                case l: java.lang.Long => Some(l.longValue())
                case i: java.lang.Integer => Some(i.longValue())
                case _ => None
              }
            }
        }
        maxes.maxOption
      } finally r.close()
    } catch { case NonFatal(_) => None }

  /** Append one record per committed swap to the catalog's commit log —
    * the durable trail the reference keeps in its WAL transaction
    * groups (executor/wal.go; replication tails the same records,
    * replication/sender.go:14-48). A replica catalog can tail this
    * file and re-read exactly the partitions each commit names.
    * Best-effort: a commit-log write failure never fails the data
    * commit (the data commit already happened at the manifest flip) —
    * but it is WARNED, because replicas tailing the log would silently
    * diverge otherwise.
    */
  private def logCommit(attGroup: String, partitions: Seq[String]): Unit =
    try {
      // Jackson, not string interpolation: symbol/attGroup names come
      // from wire clients, and a quote or backslash in one must not
      // yield a torn record a replica silently skips
      val map = new java.util.LinkedHashMap[String, Any]()
      map.put("ts", System.currentTimeMillis())
      map.put("attGroup", attGroup)
      map.put("partitions", partitions.asJava)
      // one immutable file per commit: the local Hadoop FS has no
      // append, and write-once files are exactly the shape an object
      // store replays best. Names are a per-root MONOTONIC sequence
      // seeded from the max existing commit name — restart- and
      // clock-step-safe, unlike wall clock + an in-memory counter.
      // Written to a dotfile then renamed so readers NEVER see a torn
      // record (rename is the atomicity primitive here, same as the
      // manifest flips).
      //
      // Multi-writer-safe naming (r11): the per-process counter seeds
      // ONCE per (process, root) — two processes ingesting DIFFERENT
      // attribute groups of one root (legal under the per-group
      // lease) seed from the same directory max and then generate
      // COLLIDING sequence numbers. A collided name is the one
      // failure ReplicaSync cannot see: a reused sequence leaves no
      // gap, so the lost record would silently never reach replicas.
      // The publish rename is therefore the ALLOCATOR: the tmp name
      // is unique per attempt, the no-overwrite rename into the
      // sequence-named slot either wins the number or proves it is
      // taken, and on a loss the counter re-seeds from the directory
      // and the next free number is tried.
      val dir = new Path(root, CommitLog)
      fs.mkdirs(dir)
      var attempt = 0
      var published: Option[String] = None
      while (published.isEmpty && attempt < 32) {
        val name = f"${nextCommitSeq(dir)}%015d.json"
        val tmp = new Path(dir,
          s".tmp_${java.util.UUID.randomUUID().toString.take(8)}_$name")
        val out = fs.create(tmp, false)
        out.write(om.writeValueAsBytes(map))
        out.close()
        if (graft.core.FsOps.renameNoOverwrite(fs, tmp, new Path(dir, name)))
          // the shared rename carries the checksummed-fs .crc twin, so
          // commits don't each leak an orphan pruning never collects
          published = Some(name)
        else {
          // a foreign group writer took this number first — clean the
          // loser bytes (and a checksummed fs's .crc twin), re-seed
          // from the directory, try the next free slot
          try fs.delete(tmp, false) catch { case NonFatal(_) => () }
          try fs.delete(new Path(dir, s".${tmp.getName}.crc"), false)
          catch { case NonFatal(_) => () }
          reseedCommitSeq(dir)
          attempt += 1
        }
      }
      if (published.isEmpty)
        log.warn(s"commit record for $attGroup could not be published after " +
          s"$attempt sequence-slot collisions — replicas tailing the commit " +
          "log will miss this commit")
      // keep the log bounded (the reference trims its WAL the same
      // way); the listing this costs is O(retention), not O(history)
      pruneCommitLog()
    } catch {
      case NonFatal(e) =>
        log.warn(s"commit record write failed for $attGroup: ${e.getMessage} — " +
          "replicas tailing the commit log will miss this commit")
    }

  private def maxCommitSeqOnDisk(dir: Path): Long =
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith("."))
      .map(_.takeWhile(_.isDigit)).filter(_.nonEmpty)
      .map(_.toLong).maxOption.getOrElse(0L)

  private def nextCommitSeq(dir: Path): Long =
    commitSeqs.computeIfAbsent(dir.toString,
      _ => new java.util.concurrent.atomic.AtomicLong(maxCommitSeqOnDisk(dir)))
      .incrementAndGet()

  /** After a name collision (a foreign group writer published a record
    * at our number), advance the counter to at least the directory's
    * true max — the colliding record proves a number >= ours exists on
    * disk, so the next incrementAndGet lands on a free slot (or
    * collides again against a still-faster foreign writer and retries).
    * Monotonic update only: never move the counter backwards past
    * numbers this process already claimed.
    */
  private def reseedCommitSeq(dir: Path): Unit = {
    val onDisk = maxCommitSeqOnDisk(dir)
    Option(commitSeqs.get(dir.toString))
      .foreach(_.updateAndGet(cur => math.max(cur, onDisk)))
  }

  /** Commit records, oldest first (empty if no swaps committed).
    * Bounded by [[BucketCatalog.CommitLogRetention]]: older applied
    * records are rotated away by [[pruneCommitLog]] the way the
    * reference trims flushed WAL transaction groups
    * (executor/wal.go:463-487).
    */
  def commitHistory(): Seq[String] = {
    val dir = new Path(root, CommitLog)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toIndexedSeq
      .map(_.getPath).filter(p => !p.getName.startsWith(".")).sortBy(_.getName)
      .map { p =>
        val in = fs.open(p)
        val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
        in.close()
        txt
      }
  }

  /** Rotate the commit log down to its newest `keepLast` records — the
    * reference's WAL trim (executor/wal.go:463-487), which the commit
    * log otherwise lacks: without rotation every commit ever made
    * stays listed, and `commitHistory()` plus every [[ReplicaSync]]
    * restart pays O(total commits ever) filesystem listings. Runs
    * automatically after each commit with the default retention, so
    * the directory stays bounded with no operator action.
    *
    * A replica whose marker is older than the oldest retained record
    * can no longer tail the log — [[ReplicaSync.sync]] detects that
    * gap by sequence number and falls back to a full resync of the
    * primary's live snapshot, so pruning is always safe; it only costs
    * a lagging replica a bootstrap copy. Returns how many records were
    * removed.
    */
  def pruneCommitLog(keepLast: Int = CommitLogRetention): Int = {
    // deletes records other writers may be appending around — same
    // cross-process lock as every other mutation (no-op when already
    // held, which is the post-commit call path)
    BucketCatalog.acquireProcessLock(root, rootIsLocalFs)
    val dir = new Path(root, CommitLog)
    if (!fs.exists(dir)) return 0
    val names = fs.listStatus(dir).toIndexedSeq.map(_.getPath)
      .filter(p => !p.getName.startsWith(".")).sortBy(_.getName)
    val dead = names.dropRight(math.max(keepLast, 1))
    dead.foreach { p =>
      try fs.delete(p, false)
      catch { case NonFatal(e) =>
        log.warn(s"commit-log prune of ${p.getName} failed: ${e.getMessage}")
      }
    }
    dead.size
  }

  /** Clean up after a crashed writer: delete orphaned staging
    * directories, plus any data file no retained manifest references
    * (a crash between the file moves and the manifest flip leaves
    * such unreferenced files; they were never part of any snapshot).
    * Safe ONLY at writer startup under the catalog's cross-process
    * writer guard (the reference has the same: one server process
    * owns the store and replays/cleans its WAL on startup,
    * executor/wal.go:29-45). Under the per-group lease protocol the
    * sweep is scoped: each group is swept under ITS lease, and a
    * group whose lease a live foreign writer holds is SKIPPED — its
    * staging is that writer's in-flight commit, not an orphan.
    * Returns the number of staging directories removed.
    */
  def recoverOrphanedStaging(): Int = {
    // destructive sweep — MUST hold the cross-process writer guard: a
    // startup sweep racing another process's mid-commit moves would
    // delete files whose manifest flip hasn't landed yet. Same guard
    // pair as mutate: OS lock on local roots (root-wide, so the whole
    // sweep is covered), writer LEASE elsewhere — a sweep that
    // skipped the lease would be exactly the second writer the lease
    // exists to refuse. Unlike ordinary mutations, the lease check
    // here must NOT be satisfied from the renewal cache: a writer
    // stalled past its expiry and superseded could wake with a
    // fresh-looking cache entry and sweep the NEW writer's mid-commit
    // staging — so fence against the lease FILE, exactly as commits
    // do, before deleting anything. The ROOT lease held for the
    // sweep's duration also blocks NEW group-lease acquisitions
    // (takeovers defer to it), and is released — not expiry-waited —
    // on the way out.
    if (rootIsLocalFs) BucketCatalog.acquireProcessLock(root, rootIsLocalFs)
    else { ensureWriterLease(None); fenceWriterLease(None) }
    // the sweep is a MUTATION for the heartbeat's idle-release
    // bookkeeping: without the in-flight mark, a sweep outlasting
    // IdleReleaseQuarters quiet quarters would have its root (and
    // swept-group) leases handed back MID-SWEEP — exactly the foreign
    //-writer window the destructive pass must exclude
    if (!rootIsLocalFs) BucketCatalog.noteMutationStart(leaseKey(None))
    // group leases taken only FOR the sweep are handed back (ts = 0)
    // in the finally — ON EVERY EXIT PATH: a sweep that threw
    // mid-pass must not leave heartbeats renewing leases on groups
    // this process may never write, or every other process is locked
    // out of them until this JVM dies
    val acquiredForSweep = scala.collection.mutable.Set[String]()
    val held = scala.collection.mutable.Set[String]()
    try {
      val p = new Path(root)
      if (!fs.exists(p)) return 0
      val ags = listAttGroups()
      // per-group sweep under each group's OWN lease; a group owned by
      // a live foreign writer is skipped wholesale
      ags.foreach { ag =>
        val hadBefore = rootIsLocalFs ||
          BucketCatalog.leases.containsKey(leaseKey(Some(ag)))
        val owned = rootIsLocalFs ||
          (try { ensureWriterLease(Some(ag)); fenceWriterLease(Some(ag)); true }
           catch { case _: IllegalStateException => false })
        if (owned) {
          held += ag
          // in-flight mark per held group: the staging-dir pass at the
          // end still relies on this lease, and a multi-minute sweep
          // must not have it idle-released out from under it
          if (!rootIsLocalFs) BucketCatalog.noteMutationStart(leaseKey(Some(ag)))
          if (!hadBefore) acquiredForSweep += ag
          referencedFiles(ag).foreach { referenced =>
            listDataFilesOnDisk(ag).filterNot(referenced).foreach { rel =>
              try fs.delete(new Path(agPath(ag), rel), false)
              catch { case NonFatal(e) =>
                log.warn(s"orphan sweep of $ag/$rel failed: ${e.getMessage}")
              }
            }
          }
        } else log.warn(
          s"orphan sweep skipping $ag — a live foreign writer holds its lease")
      }
      // root staging dirs (named .staging_<ag>_<nanos>): owner = the
      // longest listed group whose name prefixes the dir (group names
      // may themselves contain '_'); swept only when that group's
      // lease is held. A dir matching NO live group (group destroyed,
      // or a crash before create) is swept once older than the lease
      // expiry — the age floor keeps a brand-new group's first commit,
      // racing this sweep, intact.
      val orphans = fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(StagingPrefix))
      val swept = orphans.filter { s =>
        val name = s.getPath.getName.stripPrefix(StagingPrefix)
        ags.filter(ag => name.startsWith(ag + "_")).sortBy(-_.length).headOption match {
          case Some(ag) => rootIsLocalFs || held(ag)
          case None => rootIsLocalFs ||
            System.currentTimeMillis() - s.getModificationTime > leaseExpiryMs
        }
      }
      swept.foreach(s => fs.delete(s.getPath, true))
      swept.size
    } finally if (!rootIsLocalFs) {
      held.foreach(ag => BucketCatalog.noteMutationEnd(leaseKey(Some(ag))))
      BucketCatalog.noteMutationEnd(leaseKey(None))
      acquiredForSweep.foreach(ag =>
        try releaseWriterLease(Some(ag)) catch { case NonFatal(_) => () })
      releaseWriterLease(None)
    }
  }

  // --------------------------------------------------------------- reads

  /** The whole attribute group as one DataFrame (timeframe/year/sbucket
    * partition columns included), resolved through the current
    * manifest snapshot. None ⇒ no data.
    */
  def readGroup(attGroup: String): Option[DataFrame] = readAg(attGroup)

  /** Manifest versions currently readable for a group, oldest first —
    * the time-travel window. Bounded by [[BucketCatalog.ManifestRetention]]
    * manifests on disk; versions older than the vacuum grace may
    * reference already-deleted files (readGroupAt refuses those).
    */
  def manifestVersions(attGroup: String): Seq[Long] = {
    val dir = manifestDirPath(attGroup)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toIndexedSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .flatMap(n => scala.util.Try(n.stripSuffix(".json").toLong).toOption)
      .sorted
  }

  /** Time-travel read: the group exactly as manifest `version` listed
    * it. Valid while the version's files survive — a superseded file
    * lives [[BucketCatalog.VacuumGraceCommits]] commits past its
    * replacement, so the last 1 + grace versions are always readable;
    * older retained manifests may already have vacuumed files, and
    * this refuses them with a clear error instead of failing
    * mid-query. Some(empty) semantics mirror readGroup: None when the
    * version lists no files.
    *
    * The existence check is one recursive partition-dir listing (not a
    * per-file exists RPC) and is BEST-EFFORT against versions already
    * vacuumed when the call is made: a vacuum racing the lazy parquet
    * scan AFTER this check can still fail the query mid-flight — the
    * grace window ([[BucketCatalog.VacuumGraceCommits]]) is what makes
    * that race impossible for readers pinned within it; readers pinned
    * beyond it get the clean refusal on their next readGroupAt.
    */
  def readGroupAt(attGroup: String, version: Long): Option[DataFrame] = {
    val p = new Path(manifestDirPath(attGroup), manifestName(version))
    if (!fs.exists(p))
      throw new IllegalArgumentException(
        s"no manifest v$version for $attGroup (retained: ${manifestVersions(attGroup).mkString(", ")})")
    val files = resolveVersion(attGroup, version)._1
    val onDisk = listDataFilesOnDisk(attGroup).toSet
    val missing = files.filterNot(onDisk)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"manifest v$version of $attGroup is beyond the vacuum grace window: " +
          s"${missing.size} of ${files.size} files already deleted (first: ${missing.head})")
    if (files.isEmpty) None
    else Some(spark.read.option("basePath", agPath(attGroup))
      .parquet(files.map(f => s"${agPath(attGroup)}/$f"): _*))
  }

  // DataFrame per (group, manifest version): building a DataFrame over
  // an explicit N-file list pays a file-index listing job (~3 s at the
  // 16k-symbol design target) — a snapshot's file list is immutable,
  // so the frame is reusable until the version advances (one entry per
  // group; a new version replaces the old)
  private val frameCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, DataFrame)]()

  private def readAg(attGroup: String): Option[DataFrame] =
    resolveCurrent(attGroup) match {
      case Some((v, files, _, _)) =>
        if (files.isEmpty) None
        else {
          val cached = frameCache.get(attGroup)
          if (cached != null && cached._1 == v) Some(cached._2)
          else {
            val df = spark.read.option("basePath", agPath(attGroup))
              .parquet(files.map(f => s"${agPath(attGroup)}/$f"): _*)
            frameCache.put(attGroup, (v, df))
            Some(df)
          }
        }
      case None =>
        // pre-manifest root (a replica): directory listing — any `k=v`
        // partition dir at the top level means data
        val p = new Path(agPath(attGroup))
        val hasData = fs.exists(p) &&
          fs.listStatus(p).exists(s => s.isDirectory && s.getPath.getName.contains("="))
        if (hasData) Some(spark.read.parquet(agPath(attGroup))) else None
    }

  private def readAgOrFail(attGroup: String): DataFrame =
    readAg(attGroup).getOrElse(throw new IllegalArgumentException(
      s"no data for attribute group '$attGroup' under $root"))

  // the sbucket partition column is a layout detail — never surfaced
  // to readers (its pruning filters are applied before the drop)
  private def dropLayoutCols(df: DataFrame): DataFrame = df.drop("sbucket")

  /** Partition-pruned scan of ALL symbols of one attGroup/timeframe
    * (symbol column retained) — single scan for wildcard queries and
    * the downsample cascade.
    */
  def readMulti(attGroup: String, timeframe: String): DataFrame =
    dropLayoutCols(readAgOrFail(attGroup).filter(col("timeframe") === timeframe))

  /** Partition-pruned scan of an EXPLICIT symbol list of one
    * attGroup/timeframe: the symbols' sbuckets prune partitions to
    * ≤ |symbols| of the N physical buckets before the pushed symbol
    * predicate skips row groups inside them.
    */
  def readMulti(attGroup: String, timeframe: String, symbols: Seq[String]): DataFrame = {
    val base = readAgOrFail(attGroup).filter(col("timeframe") === timeframe)
    val nb = layoutBuckets(attGroup)
    val sbs = symbols.map(sbucketOf(_, nb)).distinct
    dropLayoutCols(base.filter(col("sbucket").isin(sbs: _*))
      .filter(col("symbol").isin(symbols: _*)))
  }

  /** Partition-pruned scan of one bucket, time-ordered. */
  def read(tbk: TimeBucketKey): DataFrame = {
    val base = readAgOrFail(tbk.attGroup)
    val df = dropLayoutCols(base
      .filter(col("sbucket") === sbucketOf(tbk.symbol, layoutBuckets(tbk.attGroup)))
      .filter(col("symbol") === tbk.symbol && col("timeframe") === tbk.timeframe))
    val ord =
      if (df.columns.contains(Uda.NanosCol)) Seq(col(Uda.EpochCol), col(Uda.NanosCol))
      else Seq(col(Uda.EpochCol))
    df.sortWithinPartitions(ord: _*)
  }

  /** All symbols present for an AttributeGroup
    * (frontend ListSymbols, frontend/query.go:264-288) — resolved from
    * the manifest (grace-retained dead files don't resurface destroyed
    * symbols), no data scan.
    */
  def listSymbols(attGroup: String): Seq[String] = liveBuckets(attGroup) match {
    case Some(buckets) =>
      buckets.map(_.split("/")(0).stripPrefix("symbol=")).distinct.sorted
    case None =>
      // pre-manifest root (a replica): symbol is a data column, not a
      // path segment — one distinct scan. Replicas trade this scan for
      // having no manifest of their own.
      readAg(attGroup) match {
        case Some(df) => df.select("symbol").distinct()
          .collect().map(_.getString(0)).toIndexedSeq.sorted
        case None => Nil
      }
  }

  /** Attribute groups present under the catalog root (directory walk,
    * no data scan) — the wire front's ListSymbols/GetInfo enumerate
    * across groups like the reference's catalog descent
    * (catalog/catalog.go:18-116).
    */
  def listAttGroups(): Seq[String] = {
    val p = new Path(root)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toIndexedSeq
      .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, MetaFile)))
      .map(_.getPath.getName).sorted
  }

  /** Most recent year partition of one bucket (GetInfo's LatestYear).
    * Files are shared across symbols, so the answer is a doubly-pruned
    * (sbucket partition + pushed symbol predicate) max-aggregate scan
    * of the symbol's single bucket slice.
    */
  def latestYear(tbk: TimeBucketKey): Option[Int] =
    if (!listTimeframes(tbk.attGroup, tbk.symbol).contains(tbk.timeframe) ||
        readAg(tbk.attGroup).isEmpty) None
    else read(tbk).agg(max(col("year"))).collect().headOption
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))

  def listTimeframes(attGroup: String, symbol: String): Seq[String] =
    liveBuckets(attGroup) match {
      case Some(buckets) =>
        buckets.filter(_.startsWith(s"symbol=$symbol/"))
          .map(_.split("/")(1).stripPrefix("timeframe=")).distinct.sorted
      case None =>
        // pre-manifest root (a replica): ONE symbol-pruned distinct
        // scan answers every timeframe (a per-timeframe isEmpty probe
        // would re-resolve the frame and launch one job per candidate)
        readAg(attGroup) match {
          case Some(old) => old.filter(col("symbol") === symbol)
            .select("timeframe").distinct()
            .collect().map(_.getString(0)).toIndexedSeq.sorted
          case None => Nil
        }
    }

  /** symbol → stored timeframes for a WHOLE attGroup in one manifest
    * resolution + one pass over the bucket list. The wildcard query
    * path (QueryService.queryMulti at the reference's ~16k-symbol
    * design point, docs/design/file_format_design.txt) needs every
    * symbol's stored-TF set for the substitution intersection; calling
    * [[listTimeframes]] per symbol is |symbols| manifest version
    * checks × a full bucket-list filter each — O(S²) on the driver.
    */
  def listTimeframesBySymbol(attGroup: String): Map[String, Set[String]] =
    liveBuckets(attGroup) match {
      case Some(buckets) =>
        buckets.iterator.map { b =>
          val i = b.indexOf('/')
          (b.substring(0, i).stripPrefix("symbol="),
            b.substring(i + 1).stripPrefix("timeframe="))
        }.toSeq.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
      case None =>
        // pre-manifest root (a replica): one distinct scan answers the
        // whole map
        readAg(attGroup) match {
          case Some(old) => old.select("symbol", "timeframe").distinct()
            .collect().toIndexedSeq
            .groupMap(_.getString(0))(_.getString(1)).view.mapValues(_.toSet).toMap
          case None => Map.empty
        }
    }

  /** Drop one symbol/timeframe from a bucket (frontend Destroy,
    * frontend/write.go:182-210). Files are shared across symbols, so
    * the symbol's (timeframe, year, sbucket) slices are REWRITTEN
    * without its rows — bounded by 1/N of the group's years, through
    * the same staged commit as every write (on a pre-manifest replica
    * root, that commit bootstraps the replica's manifest).
    */
  def destroy(tbk: TimeBucketKey): Unit = mutate(tbk.attGroup) {
    val rel = s"symbol=${tbk.symbol}/timeframe=${tbk.timeframe}"
    val sb = sbucketOf(tbk.symbol, layoutBuckets(tbk.attGroup))
    val slice = readAg(tbk.attGroup).map(_.filter(
      col("timeframe") === tbk.timeframe && col("sbucket") === sb))
    // years the symbol actually occupies — a small doubly-pruned
    // metadata job bounding the rewrite to the slices that change
    val years = slice.map(_.filter(col("symbol") === tbk.symbol)
      .select("year").distinct().collect().map(_.getInt(0)).toSeq).getOrElse(Nil)
    if (years.isEmpty)
      commitManifest(tbk.attGroup, Set.empty, Nil, Seq(s"$rel:cleared"),
        removeBuckets = Set(rel))
    else {
      val keep = slice.get.filter(col("year").isin(years: _*))
        .filter(col("symbol") =!= tbk.symbol)
      stageSwap(keep, tbk.attGroup,
        clearIfUnstaged = years.map(y =>
          s"timeframe=${tbk.timeframe}/year=$y/sbucket=$sb"),
        removeBuckets = Set(rel))
    }
  }

  /** Schema + record type for a bucket (GetInfo / GetDataShapes,
    * catalog/catalog.go:347).
    */
  def getInfo(attGroup: String): (StructType, Boolean) = {
    val (variable, schema, _) = readMeta(attGroup)
    (schema, variable)
  }

  /** Delete rows of one bucket inside an inclusive ns-precision epoch
    * range (reference range delete, executor/delete.go:15-130). Only
    * the year partitions the range touches are rewritten, through the
    * same [[stageSwap]] commit as the upsert path (no self-overwrite
    * crash window); partitions left empty leave the live set.
    */
  def deleteRange(
      tbk: TimeBucketKey,
      startEpoch: Long, startNanos: Int = 0,
      endEpoch: Long = Long.MaxValue, endNanos: Int = 999999999): Unit =
    mutate(tbk.attGroup) {
      val existing = readAg(tbk.attGroup).getOrElse(return)
      val e = col(Uda.EpochCol)
      val n = if (existing.columns.contains(Uda.NanosCol)) col(Uda.NanosCol) else lit(0)
      val inRange = e >= startEpoch && e <= endEpoch &&
        !(e === startEpoch && n < startNanos) && !(e === endEpoch && n > endNanos)
      // shared files: rewrite the symbol's (timeframe, year, sbucket)
      // slices keeping every other symbol's rows — the doubly-pruned
      // read bounds the rewrite to 1/N of the touched years
      val sb = sbucketOf(tbk.symbol, layoutBuckets(tbk.attGroup))
      val slice = existing.filter(
        col("timeframe") === tbk.timeframe && col("sbucket") === sb)
      val isMine = col("symbol") === tbk.symbol
      val touchedYears = slice.filter(isMine && inRange)
        .select("year").distinct().collect().map(_.getInt(0))
      if (touchedYears.isEmpty) return
      val keep = slice.filter(col("year").isin(touchedYears.toSeq: _*))
        .filter(!(isMine && inRange))
      stageSwap(keep, tbk.attGroup,
        clearIfUnstaged = touchedYears.toSeq.map(y =>
          s"timeframe=${tbk.timeframe}/year=$y/sbucket=$sb"),
        logicalBuckets = Set(s"symbol=${tbk.symbol}/timeframe=${tbk.timeframe}"))
    }

  /** Zero all data on/after a date (CLI trim,
    * cmd/connect/session/trim.go:15-65).
    */
  def trim(tbk: TimeBucketKey, fromEpoch: Long): Unit =
    deleteRange(tbk, fromEpoch)
}

object BucketCatalog {
  val MetaFile = "_graft_meta.txt"
  /** Symbol buckets per (timeframe, year) for new groups: the per-
    * commit file-count ceiling. Sized O(local cores); a 1000-executor
    * deployment would create groups with a few hundred so commit
    * parallelism and vacuum granularity scale with the cluster, while
    * file count stays decoupled from symbol cardinality.
    */
  val DefaultSymbolBuckets = 32

  /** Append-path file-count ceiling per (timeframe, year, sbucket)
    * partition: forward-ingest commits ADD one file per touched
    * partition (O(batch) commit cost, no rewrite); once a partition
    * reaches this many live files the next write takes the merge path
    * instead, compacting it back to one file per commit task — so
    * per-partition file count is bounded and the rewrite
    * amplification is amortized 1/CompactAtFiles. The LSM trade,
    * sized so a read of a hot partition never opens more than this
    * many smallfiles.
    */
  val CompactAtFiles = 16

  /** crc32(symbol) mod N — the symbol's physical bucket. The driver-
    * side and Column forms are the SAME function (Spark's `crc32` is
    * java.util.zip.CRC32 over the UTF-8 bytes a string→binary cast
    * yields), so read-side pruning always agrees with the write side.
    */
  def symbolBucket(symbol: String, n: Int): Int = {
    val c = new java.util.zip.CRC32()
    c.update(symbol.getBytes("UTF-8"))
    (c.getValue % n).toInt
  }
  val CommitLog = "_graft_commits.jsonl"
  val ManifestDir = "_graft_manifest"
  val StagingPrefix = ".staging_"
  /** Commits a superseded file stays on disk after leaving the live
    * set: a read pinned at manifest V is safe until commit
    * V + VacuumGraceCommits + 1 of the same group.
    */
  val VacuumGraceCommits = 2
  /** Manifest versions kept for the recovery sweep / debugging. */
  val ManifestRetention = 8
  /** Commits between full-snapshot manifest checkpoints; the versions
    * in between publish deltas, so per-commit manifest bytes are
    * O(changed files) and a resolve folds at most this many deltas.
    */
  val ManifestCheckpointEvery = 8
  /** Commit-log records kept by the automatic rotation — sized so any
    * replica syncing within a reasonable lag tails incrementally; a
    * replica further behind full-resyncs (see [[BucketCatalog.pruneCommitLog]]).
    */
  val CommitLogRetention = 512

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[BucketCatalog])

  // mutation serialization per (root, attGroup) — see the class doc's
  // concurrency contract
  private val writeLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[catalog] def writeLock(root: String, attGroup: String): Object =
    writeLocks.computeIfAbsent(s"$root#$attGroup", _ => new Object)

  // per-root commit sequence, seeded from the max existing commit name
  private val commitSeqs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  /** Name of the per-root cross-process writer lock file. */
  val WriterLockFile = "_graft_writer.lock"

  /** Name of the per-root writer LEASE file (non-local roots, where
    * no byte-range locks exist): JSON {writer, token, ts}.
    */
  val WriterLeaseFile = "_graft_writer.lease"

  /** Default writer-lease expiry: a writer silent this long may be
    * superseded by a contender (which bumps the fencing token).
    */
  val DefaultLeaseExpiryMs = 60000L

  /** One writer identity per JVM — catalogs of one process share the
    * lease, exactly like they share the OS lock on local roots.
    */
  private[catalog] val processWriterId = java.util.UUID.randomUUID().toString

  // per-root held lease: (fencing token, nanoTime of last renewal)
  private val leases =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  // daemon renewer shared by every held lease in the process — one
  // thread, quarter-expiry cadence per root (see startHeartbeat)
  private val leaseScheduler = {
    val s = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-lease-heartbeat"); t.setDaemon(true); t
      })
    s
  }
  private val leaseHeartbeats = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ScheduledFuture[_]]()

  /** Quarter-expiries a held group lease survives with no mutation
    * before the heartbeat hands it back (ts = 0) instead of renewing:
    * 8 quarters = two full expiries of quiet — long enough that a
    * bursty ingest cadence never thrashes release/re-acquire, short
    * enough that a one-shot writer stops fencing the group for its
    * process lifetime.
    */
  val IdleReleaseQuarters = 8L

  // per-lease-key mutation bookkeeping for the heartbeat's idle
  // release: how many mutations are IN FLIGHT (a long Spark commit
  // must never present as idle), and nanoTime of the last mutation
  // start/end
  private val leaseActiveMutations = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]()
  private val leaseLastMutation =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[catalog] def noteMutationStart(key: String): Unit = {
    leaseLastMutation.put(key, System.nanoTime())
    leaseActiveMutations
      .computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicInteger)
      .incrementAndGet()
    ()
  }

  private[catalog] def noteMutationEnd(key: String): Unit = {
    leaseLastMutation.put(key, System.nanoTime())
    Option(leaseActiveMutations.get(key)).foreach(_.decrementAndGet())
  }

  /** True iff the key has no mutation in flight and the last one ended
    * more than `idleMs` ago. A key with NO bookkeeping (a lease
    * acquired outside [[BucketCatalog.mutate]] — the root-scoped sweep,
    * which releases explicitly) is never idle-released.
    */
  private[catalog] def idleBeyond(key: String, idleMs: Long): Boolean = {
    val active = Option(leaseActiveMutations.get(key)).exists(_.get > 0)
    !active && Option(leaseLastMutation.get(key)).exists(l =>
      System.nanoTime() - l > idleMs * 1000000L)
  }

  // per-canonical-lock-path acquired state: the FileLock (held for
  // the JVM's life). A FAILED acquisition stores nothing, so the next
  // mutation retries — a root whose foreign writer exited becomes
  // writable without a restart. Keyed by the NORMALIZED lock-file
  // path, not the raw root string: two same-JVM catalogs addressing
  // one directory via different spellings ("/x" vs "file:/x" vs
  // "/x/") must share the entry, or the second's tryLock would see
  // this JVM's own lock and misreport a foreign writer forever.
  private val processLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.channels.FileLock]()

  private[catalog] def acquireProcessLock(root: String, isLocalFs: Boolean): Unit = {
    if (!isLocalFs) return // no byte-range locks off local disks
    val uri = new Path(root).toUri
    val dir = java.nio.file.Paths.get(
      Option(uri.getPath).filter(_.nonEmpty).getOrElse(root))
    java.nio.file.Files.createDirectories(dir)
    val lockPath = dir.resolve(WriterLockFile).toAbsolutePath.normalize()
    processLocks.computeIfAbsent(lockPath.toString, _ => {
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val lock =
        try ch.tryLock()
        catch {
          // an overlapping lock from ANOTHER channel in this JVM is a
          // foreign writer for our purposes too (catalog instances of
          // this JVM share the map entry and never reach here twice)
          case _: java.nio.channels.OverlappingFileLockException => null
          case NonFatal(e) => ch.close(); throw e // no fd leak on odd filesystems
        }
      if (lock == null) {
        ch.close()
        throw new IllegalStateException(
          s"another writer process holds $root (${WriterLockFile} is locked); " +
            "the catalog contract is a single writer per root — point this " +
            "writer at its own root or stop the other process")
      }
      lock
    })
    ()
  }
}
