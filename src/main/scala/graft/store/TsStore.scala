package graft.store

import graft.ops.Write
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The reference's memory-first, disk-persistent table store
  * (workers/sisdb: in-memory hot series + per-day SDB files, daily
  * `save`, weekly `pack`) re-shaped for Spark:
  *
  *  - **cold**: parquet partitioned by a derived day column — pruned
  *    reads are Catalyst `PartitionFilters` (the engine's main scale
  *    lever, disk/readme.md types 4/6)
  *  - **hot**: the un-flushed tail held as eagerly-materialized
  *    (persisted) micro-batches (reference: the resident series,
  *    sisdb_fmap.h:57-61). The tail is BOUNDED: when the staged rows
  *    exceed `maxHotRows` or the staged batch count exceeds
  *    `maxHotBatches`, the store flushes itself — the Spark analogue of
  *    the reference's idle eviction / read-counter decay
  *    (sisdb_fmap.h:57-61: 36 h unread series are dropped from memory;
  *    here memory pressure, not wall-clock, is the budget that a
  *    1000-executor deployment actually cares about). The batch cap
  *    also bounds the union-plan depth, which would otherwise grow
  *    linearly in the number of `set` calls.
  *  - **read** = cold ∪ hot with last-write-wins dedupe by
  *    (subject, solely…, time) on the ingest sequence — the union the
  *    reference gets implicitly because memory shadows disk
  *    (SURVEY.md §7.5.5)
  *  - **save** flushes hot into ONLY the day partitions the tail
  *    touches (cmd `save`, sisdb.c:563-584 — the reference likewise
  *    rewrites dirty day files, not the whole store); **pack** rewrites
  *    partitions to bounded file counts (cmd `pack`, sisdb.c:586-602)
  *
  * Writes are serialized by the caller exactly like the reference's
  * single dispatcher thread (sisdb_server.c:474-476) — the store keeps
  * one writer's view consistent, it is not a concurrency layer.
  *
  * ==Concurrent-reader contract==
  * Cold rewrites commit per day partition by delete-dest + rename (and
  * `pack` swaps the whole store by rename-aside). Renames are atomic,
  * so a CONCURRENT reader never sees torn files — but a read that
  * lists partitions in the millisecond window between a day's delete
  * and its rename-in can miss that day, and a multi-day `del` is not
  * a snapshot (a racing read may see day A rewritten and day B not
  * yet). This is the reference's own position — every command runs on
  * one dispatcher thread, readers included (sisdb_server.c:474-476) —
  * and the single-process engine serializes through `synchronized`
  * the same way. Deployments that add OUT-OF-PROCESS readers (e.g.
  * external SQL engines over the same parquet paths) and cannot
  * tolerate a transiently missing day during a swap get SNAPSHOT
  * MODE (`snapshots = true`): cold commits write versioned
  * `__day=X/__v=N` dirs and the single commit point is an EXCLUSIVE
  * CLAIM of the next numbered manifest slot (`__snapshot.<v>.<k>
  * .json`, day → version inside) — exactly one of N concurrent
  * claimants of a slot wins, so a commit either linearizes fully or
  * fails loudly with nothing published; readers resolve the max slot.
  * Nothing a committed manifest references is ever deleted by a
  * later commit — a reader that pinned a manifest ([[TsStore
  * .openSnapshot]]) reads immutable dirs for as long as it runs, a
  * multi-day delete/save/pack is all-or-nothing (readers see the old
  * snapshot in full until the manifest swaps, the new one in full
  * after), and a writer crash before the manifest commit is a no-op
  * (orphan version dirs are inert). Superseded versions are garbage-
  * collected by [[vacuum]], which the operator schedules with a
  * grace ≥ the longest reader runtime — the same retention contract
  * Iceberg/Delta expire-snapshots carry. PORTABILITY: the commit
  * protocol assumes atomic rename (HDFS/posix true, S3 false — object
  * stores need a manifest-committer deployment regardless); it does
  * NOT assume meaningful directory mtimes — every grace that measures
  * "time since placement" reads the committer-written placed-at stamp
  * inside the version dir ([[TsStore.PlacedStamp]]), with dir mtime
  * only as a legacy fallback.
  */
final class TsStore(
    val spark: SparkSession,
    val path: String,
    val subject: String,
    val time: String,
    val soleCols: Seq[String],
    val dayCol: org.apache.spark.sql.Column,
    val schema: Option[org.apache.spark.sql.types.StructType] = None,
    val maxHotRows: Long = 4L << 20,
    val maxHotBatches: Int = 64,
    val snapshots: Boolean = false) {

  private var hotFrames: Vector[DataFrame] = Vector.empty
  // the PERSISTED originals behind hotFrames: deleteWhere/dropSubject
  // wrap hotFrames in filter views, and unpersisting a wrapper is a
  // no-op (the cache is keyed on the original plan) — so the cache
  // handles are kept separately and released here on clearHot
  private var hotCached: Vector[DataFrame] = Vector.empty
  private var hotRows: Long = 0L
  // exact day set of the hot tail, tracked at set() time when the
  // batch is driver-local and __day is a string (the engine paths) —
  // lets save()/stageSave() skip a distinct().collect() Spark job per
  // flush. None = unknown (a distributed batch, or a hot-tail filter
  // from deleteWhere/dropSubject may have emptied a day): fall back
  // to computing. Exactness matters: save REQUIREs produced day dirs
  // == dirty days, so an overcount is an error, never "just slower".
  private var hotDays: Option[Set[String]] = Some(Set.empty)
  private var seq: Long = 0L
  // M6 tombstones: subject → drop-sequence. A `drop` is an O(1)
  // metadata write (the reference marks blocks moved and erases them at
  // save/pack, sisdb_io.c:297-306, sisdb_fmap_write.c:135-146); every
  // cold row of that subject stamped at-or-before the drop sequence is
  // dead to reads until `pack` erases it physically. Cold rewrites
  // stamp `__seq` with the CURRENT ingest sequence, so rows written
  // after the drop (a re-created subject) always outrank the tombstone.
  private var tombstones: Map[String, Long] = Map.empty
  // mode/layout guard BEFORE recovery touches anything: a flat store
  // opened with snapshots=true would read as EMPTY (no manifest) and
  // the next save would bury live flat day dirs under version dirs; a
  // snapshot store opened flat would scan every superseded version as
  // data. Neither failure is detectable from results — fail loudly.
  // The layouts differ INSIDE the day dirs (flat: data files directly;
  // snapshot: only `__v=N` subdirs), which stays true across every
  // crash state — the manifest alone does not (a first save can crash
  // after placing versions, before the first manifest commit). A store
  // with ZERO committed day dirs has no layout to probe, but may still
  // hold a roll-forward-able tmp from a crashed FIRST save — the meta
  // sidecar records the writing mode (and persistMeta runs before any
  // tmp write, so the record exists whenever such a tmp can), closing
  // the window where wrong-mode recovery would destroy or re-layout it.
  // The node parsed here is handed to loadMeta (nothing between the
  // guard and loadMeta rewrites the file), so open reads the sidecar
  // once — on a 10k-table root that is 10k fewer namenode round-trips.
  private var metaNodeAtOpen: Option[com.fasterxml.jackson.databind.JsonNode] =
    None
  locally {
    // probe the first NON-EMPTY day dir: an empty one (a crash between
    // placeVersions' mkdirs and its rename, or between vacuum deleting
    // a day's last version dir and the day dir itself) carries no
    // layout evidence, and misreading it as "flat" would brick the
    // open that recovery needs to heal exactly that crash
    val probe = dayDirs(new org.apache.hadoop.fs.Path(path))
      .iterator
      .map { case (name, _) =>
        fs.listStatus(new org.apache.hadoop.fs.Path(path, name)).toSeq }
      .find(_.nonEmpty)
      .map(_.exists(s =>
        s.isDirectory && s.getPath.getName.startsWith("__v=")))
    require(!(snapshots && probe.contains(false)),
      s"$path holds a flat-layout store — open it with snapshots = " +
        "false, or migrate by rewriting through a snapshot-mode save")
    require(!(!snapshots && (probe.contains(true) ||
        TsStore.anyManifest(fs, path))),
      s"$path was written in snapshot mode — open it with snapshots = true")
    metaNodeAtOpen =
      if (!fs.exists(metaFile)) None
      else Some(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(TsStore.readJsonBytes(fs, metaFile)))
    val metaMode: Option[Boolean] = metaNodeAtOpen
      .filter(_.has("snapshots")) // pre-mode-record meta: layout probe only
      .map(_.path("snapshots").asBoolean())
    require(!metaMode.exists(_ != snapshots),
      s"$path was written with snapshots = ${metaMode.get} — open it " +
        "with the same mode")
  }
  // ── cross-process writer fence. The reference cannot have two
  // writer processes by construction — every command runs on one
  // dispatcher thread of one server (sisdb_server.c:474-476). Here
  // the single-writer contract (scaladoc above) is ENFORCED, not just
  // documented, by two layers with distinct jobs:
  //
  //  POLICY — the lease: a handle's FIRST MUTATION takes over a lease
  //  sidecar (a unique token — the fencing identity — plus a
  //  best-effort diagnostic epoch, committed by atomic rename-over),
  //  and every later mutation re-checks the token before touching the
  //  live store — so of two live writer handles on one root, the
  //  superseded one fails loudly at its next write. Acquisition is
  //  lazy, at first mutation rather than at open, so a process that
  //  opens the store only to READ (an engine serving get/exposeSql, a
  //  snapshot inspector) never fences the active writer — read
  //  coexistence is the vacuum-grace contract's whole point. Takeover
  //  (not mutual exclusion) is deliberate: a crashed writer must never
  //  brick the store behind a stale lock file, and a restart is
  //  indistinguishable from a takeover. Acquiring over a root with a
  //  RESERVED-but-uncommitted generation first seals or adopts it
  //  ([[sealOrAdoptPendingSlots]]), so the new writer's own commits
  //  start from a sequence with nothing in flight under them.
  //
  //  SAFETY — the claims: the commit point is an EXCLUSIVE CLAIM of a
  //  numbered manifest slot ([[commitSnapshot]]), and every placement
  //  of day dirs is preceded by an exclusive claim of its generation
  //  ([[claimOrAdoptResv]]) with writer-token-unique staging paths.
  //  Lease checks order who SHOULD win; the claims guarantee that
  //  whatever happens in the unobservable instants between a check
  //  and an action, every commit either linearizes fully or fails
  //  loudly with nothing published — no lost update, no mixed slot,
  //  no rollback, under ANY interleaving of takeovers and in-flight
  //  commits. (The old rename-over protocol verified the lease after
  //  the swap and rolled back on takeover, which left a documented
  //  residual race of the instants between rename and verify; the
  //  claim protocol removed both the rollback and the residual.) One
  //  consequence worth naming: a superseded writer's ALREADY-IN-FLIGHT
  //  commit may still win its slot claim and land — consistently,
  //  linearized before the takeover's first write, and adopted as the
  //  new writer's baseline; the fence then stops the superseded
  //  writer's NEXT mutation. Recovery at open can itself commit
  //  (roll-forward), which takes the lease then — correct: replaying
  //  a pending commit IS writing.
  @volatile private var leaseToken: Option[String] = None
  @volatile private var leaseEpoch: Long = 0L
  // meta BEFORE recovery: a recovery-path snapshot commit mints the
  // generation's time-travel history record from the live tombstone
  // map — replaying with the sidecar not yet loaded would stamp the
  // record with EMPTY tombstones, silently rewriting the as-of
  // history a clean run records. Safe in this order: recovery never
  // rewrites the meta sidecar, and the watermark it loads was
  // persisted before any roll-forward-able tmp existed (see save).

  // ── incremental-vacuum bookkeeping: the commit path records which
  // day dirs it touched since the last vacuum, so the SCHEDULED
  // vacuum ([[maybeAutoVacuum]]) lists only those — O(touched days)
  // directory listings per run, not O(all days a store holding years
  // accumulates). A day stays pending while a TIME grace is the only
  // thing keeping its reclaimable dirs (the grace expires by
  // wall-clock, not by a commit that would re-dirty the day). The set
  // is in-memory: a restarted store's first scheduled vacuum does one
  // full sweep (fullVacuumNeeded), then goes incremental. Manual
  // [[vacuum]] always sweeps everything. Declared BEFORE the recovery
  // call below — recovery replays commits, which record dirty days.
  private var dirtyDaysSinceVacuum: Set[String] = Set.empty
  private var fullVacuumNeeded: Boolean = true
  /** Spec instrumentation: day dirs whose contents the last vacuum
    * actually listed. */
  private[graft] var lastVacuumDaysListed: Int = 0

  private def noteDirtyDays(days: Iterable[String]): Unit =
    dirtyDaysSinceVacuum ++= days

  // ── in-memory protocol state, declared BEFORE the recovery call in
  // the constructor body below (recovery can commit, and a commit
  // touches every one of these — a later declaration would NPE or be
  // reset by its own initializer mid-recovery):
  @volatile private var slotHint: Option[TsStore.SnapSlot] = None
  // the CONTENT behind the hint: when the probe walk lands on the
  // same slot the handle already read, the JSON re-read is skipped —
  // committed slots are immutable, so slot identity implies content
  @volatile private var snapCache: Option[(TsStore.SnapSlot, TsStore.Snapshot)] =
    None
  // cached GC floor (-1 = not yet read). Pre-claim resurrection
  // checks read this (cheap); every claim WINNER re-reads the real
  // file post-claim (the authoritative check), which also refreshes
  // the cache. GC's own floor writes refresh it too.
  private var floorCache: Long = -1L
  private def cachedFloor: Long = {
    if (floorCache < 0L) floorCache = TsStore.readFloor(fs, path)
    floorCache
  }
  // sub-slot counts of recently committed generations (GC needs the
  // count to delete a generation's slots without probing upward)
  private var recentSubs: Map[Long, Int] = Map.empty
  // GC watermark: generations strictly below this are KNOWN clean
  // (no slot, no reservation). Unset (-1) until the first GC of this
  // handle, which does one listing sweep — that sweep also heals any
  // backlog a predecessor's crash mid-walk orphaned below an empty
  // generation (the probe-driven walk could never resume past one).
  private var gcCleanBelow: Long = -1L
  // probed once per handle: after the first numbered commit deletes
  // it, the legacy single-file manifest can never reappear
  private var legacySnapMayExist: Boolean = true
  private var histDirReady = false
  private var coldCacheKey: Option[(Long, Long, Int, Int)] = None
  private var coldCacheFrame: Option[DataFrame] = None
  // flat-mode external freshness fingerprint (see [[cold]]'s flat branch)
  private var flatColdSig: Seq[(String, Long)] = Nil
  private var coldEpoch: Long = 0L
  // pinned-read (time-travel) plan cache: a generation's referenced
  // version dirs are immutable, so the constructed frame is reusable
  // until something epoch-bumping happens (commit minting the
  // generation later, vacuum reclaiming records/dirs, restore).
  // Bounded; caches None too (an unknown generation stays unknown
  // within an epoch). Plan metadata only — actions still scan.
  private var pinnedCache: Map[Long, Option[DataFrame]] = Map.empty

  /** Test-only hook, invoked between the fence check and the manifest
    * slot CLAIM — lets a spec land a competing takeover exactly inside
    * the commit window. Under the claimed-slot protocol either order
    * is safe: the claim is the single arbiter, so the in-flight commit
    * linearizes fully (the takeover then builds on it) or fails loudly
    * (nothing published) — there is no rollback and no verify window.
    * Declared before the recovery call below (recovery can commit). */
  private[graft] var onBeforeSnapshotClaim: () => Unit = () => ()

  loadMeta()
  recoverSwaps()

  // ── schema eras (the reference's version-tolerant convert,
  // sis_dynamic.h:12-51: server and client exchange schema
  // dictionaries and a field-by-field converter bridges record
  // layouts; rule sis_dynamic.h:110-117 — same style carries/widens,
  // different style → 0/empty, never a best-effort cast). A store
  // that has EVOLVED carries its schema history in a `__schemas`
  // sidecar dir: one record per era, `e=N.json` = {era,
  // fromGeneration, dsl}. In SNAPSHOT mode no per-day bookkeeping is
  // needed: a day-version dir `__v=V` is only ever written by the
  // commit that advanced the manifest to generation V, and
  // [[evolveSchema]] flushes before recording `fromGeneration =
  // current generation + 1` — so a dir's writing era is a pure
  // function of its version number ([[TsStore.eraOfGen]]) and the
  // existing commit/recovery/vacuum machinery is untouched. Cold
  // reads group day dirs by era, read each group self-described, and
  // [[graft.ops.Convert.alignKeeping]] every non-live group to the
  // era the read targets (live reads → latest era; time travel → the
  // era live AT that generation). FLAT mode has no generation to hang
  // an era on (data dirs and metadata commit in separate renames), so
  // a flat evolve MIGRATES: one aligned whole-store rewrite through
  // the crash-safe pack swap — flat stores stay single-era by
  // construction. Stores that never evolve have no `__schemas` dir
  // and every read path is byte-identical to before this feature.
  private var eraRecords: Seq[TsStore.EraRecord] =
    TsStore.readEras(fs, path)

  /** The latest era's declared schema — the store-authoritative table
    * declaration an owning engine heals its catalog from after a
    * crash between the store-side evolve commit and the engine-side
    * catalog persist. None for a never-evolved store. */
  private[graft] def latestEraSdb: Option[graft.schema.SdbSchema.Sdb] =
    eraRecords.lastOption.map(_.sdb)

  /** The era new writes land in (0 for a never-evolved store). */
  private[graft] def currentEra: Int =
    eraRecords.lastOption.map(_.era).getOrElse(0)

  /** True once the store spans more than one schema era. */
  private[graft] def hasEras: Boolean = eraRecords.size > 1

  /** The era a day-version dir committed at generation `v` was
    * written under ([[TsStore.eraOfGen]] over this store's records). */
  private[graft] def eraOfVersion(v: Long): Int =
    TsStore.eraOfGen(eraRecords, v)

  /** The declared schema LIVE at generation `v` — what a time-travel
    * pin of that generation serves. None for a never-evolved store
    * (whose reads have no era machinery at all). The cross-era face
    * of [[eraOfVersion]]: an engine diffing two pins across an evolve
    * boundary aligns the older era to the newer with this. */
  private[graft] def eraSdbAt(v: Long): Option[graft.schema.SdbSchema.Sdb] =
    if (eraRecords.isEmpty) None
    else {
      val e = TsStore.eraOfGen(eraRecords, v)
      eraRecords.find(_.era == e).map(_.sdb)
    }

  // the read-view schema of the LATEST era (empty-store reads must
  // serve the evolved struct after a restart, not the constructor's)
  private var liveReadSchema: Option[org.apache.spark.sql.types.StructType] =
    eraRecords.lastOption.map(r => TsStore.withSystemCols(r.sdb)).orElse(schema)

  private def leaseFile =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__lease.json")

  private def readLease(): Option[com.fasterxml.jackson.databind.JsonNode] = {
    val f = fs
    if (!f.exists(leaseFile)) None
    else scala.util.Try(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(TsStore.readJsonBytes(f, leaseFile))).toOption
  }

  private def acquireLease(): String = {
    val f = fs
    // best-effort epoch bump: the read-modify-write is not atomic, so
    // two SIMULTANEOUS takeovers can both read N and write N+1 — the
    // rename-over picks a winner and the TOKEN (unique per takeover)
    // is what fences the loser. The epoch is diagnostics (FENCED
    // messages, the manifest's writer record), not the identity.
    val epoch = readLease().map(_.path("epoch").asLong(0L)).getOrElse(0L) + 1
    val token = java.util.UUID.randomUUID().toString
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("epoch", epoch)
    root.put("token", token)
    root.put("owner", s"${ProcessHandle.current().pid()}@" +
      java.net.InetAddress.getLocalHost.getHostName)
    root.put("acquiredAt", System.currentTimeMillis())
    val tmp = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__lease.json.tmp")
    val out = f.create(tmp, true)
    try out.write(m.writeValueAsBytes(root)) finally out.close()
    TsStore.atomicReplace(f, tmp, leaseFile)
    leaseEpoch = epoch
    // the token must be set BEFORE the seal/adopt pass: sealing
    // commits (and adoption replays commit routines), whose fence
    // checks must see this writer as the live lease holder
    leaseToken = Some(token)
    sealOrAdoptPendingSlots()
    token
  }

  /** The new lease holder's first duty: resolve every RESERVED but
    * UNCOMMITTED generation above the live manifest, so its own
    * commits start from a sequence with no in-flight slots under it.
    * For each pending reservation (ascending — they are dense: a
    * reservation's baseline is always the committed generation below
    * it):
    *  - the recorded commit instruction is still COMPLETE on disk →
    *    ADOPT: roll it forward (placements replay byte-identically
    *    from the same tmp; the slot claim tolerates the owner racing
    *    us with equal content). An in-flight commit that got this far
    *    is linearized BEFORE this takeover.
    *  - incomplete/vanished → SEAL: claim the slot with an empty
    *    advance (baseline days under the reserved generation). The
    *    old writer's eventual claim of the slot then fails atomically
    *    — FENCED with nothing published, no rollback needed.
    * If the old writer's real commit wins a race against our seal,
    * the loop re-reads and simply builds on it. Snapshot mode only;
    * a no-op whenever no reservation is pending (the common case —
    * one extra listing per lease acquisition). */
  private def sealOrAdoptPendingSlots(): Unit = {
    if (!snapshots) return
    val f = fs
    var guard = 0
    var done = false
    while (!done) {
      guard += 1
      if (guard > 64) throw new IllegalStateException(
        s"$path: pending-reservation churn beyond any plausible " +
          "concurrent-writer count — refusing to fight it blind")
      val snap = loadSnapshot()
      val pending = TsStore.listSlotsAndResvs(f, path)._2.filter(_ > snap.v)
      if (pending.isEmpty) done = true
      else {
        val rv = pending.min
        if (rv != snap.v + 1) throw new IllegalStateException(
          s"$path: reservation for generation $rv pends over a live " +
            s"manifest at ${snap.v} with a gap — protocol corruption " +
            "(reservations chain densely from the committed generation)")
        val info = scala.util.Try(new com.fasterxml.jackson.databind
          .ObjectMapper().readTree(TsStore.readJsonBytes(f,
            TsStore.resvFile(path, rv)))).toOption
        val tmpP = info.map(i => new org.apache.hadoop.fs.Path(
          i.path("tmp").asText()))
        val kind = info.map(_.path("kind").asText()).getOrElse("")
        val manifest = if (kind == "deleting") TsStore.AffectedManifest
          else TsStore.CommitManifest
        val complete = tmpP.exists(t =>
          f.exists(new org.apache.hadoop.fs.Path(t, "_SUCCESS")) &&
            f.exists(new org.apache.hadoop.fs.Path(t, manifest)))
        if (complete) {
          kind match {
            case "deleting" => commitDeletingSnapshot(tmpP.get)
            case "packed" => commitPackedSnapshot(tmpP.get)
            case _ => commitSavingSnapshot(tmpP.get)
          }
          f.delete(tmpP.get, true)
        } else {
          // SEAL: consume the reserved slot with an empty advance. If
          // the reservation's owner commits the real slot first, our
          // claim loses — benign: the loop re-reads and the owner's
          // commit (linearized before this takeover's first write)
          // becomes our baseline.
          try commitSnapshot(TsStore.Snapshot(rv, snap.days, snap.removed),
            advance = true, cur0 = Some(snap))
          catch {
            case e: IllegalStateException =>
              if (!holdsWriteLease) throw e // a THIRD writer took over
          }
        }
      }
    }
  }

  /** True while this handle can still write: it never wrote (no lease
    * taken — readers always pass) or its lease token is still the
    * live one. The engine checks this before ITS shared artifact (the
    * catalog sidecar) — a superseded engine must not overwrite the
    * winner's declarations either. */
  private[graft] def holdsWriteLease: Boolean = leaseToken match {
    case None => true
    case Some(mine) =>
      readLease().exists(_.path("token").asText() == mine)
  }

  /** Fail loudly if another writer took over this root since this
    * handle FIRST WROTE. Checked at every mutation entry (before the
    * tmp job starts — nothing of the fenced writer's touches disk)
    * AND at [[commitSnapshot]], the manifest swap itself. The first
    * check a handle ever makes acquires the lease instead (lazy —
    * read-only handles never touch it). */
  // re-entrancy depth for the fence check: a public mutator checks
  // ONCE at entry (via [[fenced]]); the nested protocol steps it runs
  // (persistMeta, stagingTmp, claimOrAdoptResv, commitSnapshot) skip
  // the redundant lease re-reads. This narrows no safety property:
  // the lease check was always advisory check-then-act — the
  // exclusive slot/reservation CLAIMS (plus the advance-content rule
  // in commitSnapshot) are what guarantee a superseded writer's
  // commit either linearizes fully or fails loudly.
  private var fenceDepth: Int = 0
  private def fenced[A](body: => A): A = synchronized {
    checkFence()
    fenceDepth += 1
    try body finally fenceDepth -= 1
  }
  private def checkFence(): Unit =
    if (fenceDepth == 0 || leaseToken.isEmpty) checkFenceNow()
  private def checkFenceNow(): Unit = leaseToken match {
    case None => acquireLease() // sets leaseToken itself, BEFORE its
      // seal/adopt pass commits anything under the new lease
    case Some(mine) =>
      val lease = readLease()
      if (!lease.exists(_.path("token").asText() == mine)) {
        val owner = lease.map(_.path("owner").asText()).getOrElse("unknown")
        val epoch = lease.map(_.path("epoch").asLong(0L)).getOrElse(-1L)
        throw new IllegalStateException(
          s"$path: this writer handle is FENCED — the store root was " +
            s"taken over by '$owner' (lease epoch $epoch). The store " +
            "keeps one writer's view consistent; re-open the store to " +
            "take the root back (the other writer is then fenced).")
      }
  }

  /** Opt-in scheduled vacuum ([[TsStore.AutoVacuum]]): when set, each
    * completed cold mutation whose committed generation is a multiple
    * of `everyGenerations` runs [[vacuum]] with the configured dials —
    * a deployment that never calls vacuum() manually would otherwise
    * accumulate superseded version dirs and generation records without
    * bound (the reference schedules its own save/pack housekeeping the
    * same way, sisdb.c:137-169). Runs AFTER the commit and its
    * onColdChange sync, so it never adds latency inside a commit and
    * the reader-grace dials apply exactly as a manual vacuum's. */
  @volatile var autoVacuum: Option[TsStore.AutoVacuum] = None

  /** Engine-wired cut-staleness audit ([[graft.api.Engine
    * .staleCutWarnings]]): cuts live at the engine (they span tables),
    * but the scheduled vacuum is where a deployment that never calls
    * vacuum() manually would notice a forgotten cut — so when the
    * [[TsStore.AutoVacuum]] dials carry a `cutMaxAgeMs`, each auto run
    * invokes this and logs the warnings. Identity default: a store
    * without an owning engine has no cuts to audit. */
  @volatile var staleCutAuditor: Long => Seq[String] = _ => Seq.empty

  /** Run the configured auto-vacuum if the live generation hit the
    * cadence. Called at the END of the public mutators (never from
    * inside a commit — vacuum itself drains pending commits, and a
    * commit-path trigger would recurse). */
  private def maybeAutoVacuum(): Unit = autoVacuum.foreach { av =>
    if (snapshots && av.everyGenerations > 0 &&
      loadSnapshot().v % av.everyGenerations == 0) {
      // scoped: the scheduled path lists only the days commits touched
      // since the last vacuum (plus days a wall-clock grace left
      // pending) — O(touched), with the full sweep reserved for manual
      // vacuum() and the first run after a restart
      vacuumScoped(av.keepSuperseded, av.removedDayGraceMs, av.keepHistory,
        av.supersededGraceMs, scoped = true)
      if (av.cutMaxAgeMs > 0L)
        staleCutAuditor(av.cutMaxAgeMs).foreach(w =>
          System.err.println(s"[graft] auto-vacuum $path: $w"))
    }
  }

  /** Invoked after any operation that changes what cold reads see
    * (save / deleteWhere / dropSubject / pack) — lets an owner holding
    * external views of the store (e.g. a registered SQL catalog table)
    * refresh them.
    * The [[TsStore.ColdChange]] says *what* changed so the owner can
    * sync proportionally to the change (O(dirty days) for a save)
    * instead of re-listing every partition of a store holding years
    * of days on each hot-tail auto-flush. */
  @volatile private[graft] var onColdChange: TsStore.ColdChange => Unit = _ => ()

  private def hotUnion: Option[DataFrame] =
    hotFrames.reduceOption(_ unionByName _)

  private def clearHot(): Unit = {
    hotCached.foreach(_.unpersist())
    hotCached = Vector.empty
    hotFrames = Vector.empty
    hotRows = 0L
    hotDays = Some(Set.empty)
  }

  // "exists" = holds at least one day partition — a delete that empties
  // the store leaves the root dir (and parquet's _SUCCESS) behind, and
  // a bare `spark.read.parquet` on a file-less dir cannot infer schema.
  // Probed through the Hadoop FileSystem like every other path op: a
  // java.io.File probe is always-false on hdfs://-style schemes, which
  // would make save() silently overwrite cold data on a real cluster.
  private def coldExists: Boolean =
    if (snapshots) loadSnapshot().days.nonEmpty
    else dayDirs(new org.apache.hadoop.fs.Path(path)).nonEmpty

  // ── persisted store metadata (sidecar JSON next to the parquet root):
  // the ingest-sequence watermark and the live tombstones. Persisted on
  // every save/drop so a restarted store (a) keeps issuing sequences
  // above every recorded drop and (b) keeps dropped subjects dead.
  private def metaFile =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__meta.json")

  private def loadMeta(): Unit = {
    // reuse the node the open guard already parsed; fall back to a
    // fresh read for any other call path
    val nodeOpt = metaNodeAtOpen.orElse {
      if (!fs.exists(metaFile)) None
      else Some(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(TsStore.readJsonBytes(fs, metaFile)))
    }
    metaNodeAtOpen = None
    nodeOpt.foreach { node =>
      seq = math.max(seq, node.path("seq").asLong(0L))
      import scala.jdk.CollectionConverters._
      tombstones = node.path("tombstones").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong(0L)).toMap
    }
  }

  private def persistMeta(): Unit = {
    checkFence() // before the sidecar write AND the tmp job that follows
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("seq", seq)
    root.put("snapshots", snapshots) // mode record — see the open guard
    val t = root.putObject("tombstones")
    tombstones.toSeq.sortBy(_._1).foreach { case (k, v) => t.put(k, v) }
    // write-tmp + atomic rename-over: an in-place overwrite interrupted
    // mid-write corrupts the watermark/tombstone file and the store
    // fails to load (or worse, loads a stale watermark that lets a
    // later tombstone rank below re-stamped rows). The replace is
    // [[TsStore.atomicReplace]] — one rename on every filesystem.
    val tmp = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__meta.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(m.writeValueAsBytes(root)) finally out.close()
    TsStore.atomicReplace(fs, tmp, metaFile)
  }

  // ── snapshot mode: versioned day dirs + a manifest as the single
  // commit point. The tmp-write halves of save/deleteWhere/pack are
  // shared with the default mode; only the COMMIT differs — instead
  // of delete-dest + rename over the live day dirs, each produced day
  // renames into `__day=X/__v=(v+1)` (under an exclusive per-
  // generation reservation) and the new manifest is claimed as the
  // next numbered slot `__snapshot.<v>.<k>.json` — readers resolve
  // the max slot. Old versions are never touched by a commit, so
  // pinned readers stay whole; a crash before the slot claim changes
  // nothing a reader can see.

  /** The LEGACY single-file manifest: read as a fallback while no
    * numbered slot exists (stores written before the claim protocol),
    * retired by the first numbered commit. New code never writes it. */
  private def snapFile =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__snapshot.json")

  private def histDir =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__snaphist")

  /** The last slot this handle resolved — a probe hint only, never
    * trusted: [[loadSnapshot]] walks FORWARD from it (slots are dense:
    * every advance is v+1, every bookkeeping rewrite k+1, and a
    * takeover seals skipped reservations, so the walk cannot jump a
    * commit), and a hint whose file GC already retired falls back to
    * the full listing. Stale reads are impossible either way; the
    * hint only trades a directory listing for two existence probes on
    * the steady path. */

  private def loadSnapshot(): TsStore.Snapshot = {
    val f = fs
    slotHint match {
      case Some(h) if f.exists(TsStore.slotFile(path, h)) =>
        var cur = h
        var moved = true
        while (moved) {
          val adv = TsStore.SnapSlot(cur.v + 1, 0)
          val bk = TsStore.SnapSlot(cur.v, cur.k + 1)
          if (f.exists(TsStore.slotFile(path, adv))) cur = adv
          else if (f.exists(TsStore.slotFile(path, bk))) cur = bk
          else moved = false
        }
        snapCache match {
          case Some((slot, snap)) if slot == cur =>
            slotHint = Some(cur)
            snap
          case _ =>
            try {
              val s = TsStore.readSnapshot(f, TsStore.slotFile(path, cur))
                .copy(sub = cur.k)
              slotHint = Some(cur)
              snapCache = Some((cur, s))
              s
            } catch { // GC retired it mid-walk: resolve from a fresh list
              case _: java.io.FileNotFoundException => resolveLive()
            }
        }
      case _ => resolveLive()
    }
  }

  private def resolveLive(): TsStore.Snapshot = {
    val s = TsStore.readLiveSnapshot(fs, path)
    // legacy single-file manifests resolve with sub=0 and no hint —
    // the first numbered claim then seeds the hint
    if (s.v > 0L || s.days.nonEmpty) {
      slotHint = Some(TsStore.SnapSlot(s.v, s.sub))
      snapCache = Some((TsStore.SnapSlot(s.v, s.sub), s))
    }
    s
  }

  /** Record a committed manifest generation for time travel:
    * `__snaphist/v=N.json` holds the generation's day→version map AND
    * the tombstones live at commit time, so [[TsStore.openSnapshotAt]]
    * reproduces exactly what a reader pinned at that commit saw
    * (drops land at the NEXT commit point — `drop` itself is an O(1)
    * metadata write with no manifest generation). First writer wins:
    * a crash-replayed commit never rewrites a generation's record.
    * Written AFTER the live manifest rename — a crash in between
    * leaves generation N committed but not time-travelable (absent
    * from [[snapshotVersions]]), never the reverse. */
  private def writeHistory(s: TsStore.Snapshot): Unit = {
    val f = fs
    val dest = new org.apache.hadoop.fs.Path(histDir, s"v=${s.v}.json")
    if (f.exists(dest)) return
    val root = TsStore.Json.createObjectNode()
    root.put("v", s.v)
    val d = root.putObject("days")
    s.days.toSeq.sortBy(_._1).foreach { case (k, ver) => d.put(k, ver) }
    val tb = root.putObject("tombstones")
    tombstoneList.sortBy(_._1).foreach { case (sub, g) => tb.put(sub, g) }
    if (!histDirReady) { f.mkdirs(histDir); histDirReady = true }
    val tmp = new org.apache.hadoop.fs.Path(histDir, s"v=${s.v}.json.tmp")
    val out = f.create(tmp, true)
    try out.write(TsStore.Json.writeValueAsBytes(root)) finally out.close()
    if (!f.rename(tmp, dest)) f.delete(tmp, false) // lost the race: fine
  }

  /** [[TsStore.readHistRecord]] for this store's root. */
  private[graft] def historyRecord(v: Long)
      : Option[(Map[String, Long], Map[String, Long])] =
    TsStore.readHistRecord(fs, path, v)

  /** The live manifest's committed generation (0 before the first
    * commit; meaningless outside snapshot mode). The number an
    * engine-wide cut records per table. */
  private[graft] def currentGeneration: Long = synchronized {
    if (!snapshots) 0L else loadSnapshot().v
  }

  /** Commit a TOMBSTONE-ONLY generation when the live tombstone map
    * has moved past the last committed generation's record. [[save]]
    * flushes hot ROWS, but [[dropSubject]] on a fully-flushed store
    * mutates only the meta sidecar — no commit — so a consistent cut
    * ([[graft.api.Engine.snapshotAll]]) "flushed" through save()
    * alone would record a generation whose as-of tombstones PREDATE
    * the drop and resurrect the dropped subject on every cut read
    * (caught by e16's manifest round-trip REQUIRE). The commit
    * reuses every existing version dir — the days map is unchanged —
    * its whole payload is the new history record carrying the
    * current tombstone map. No-op when nothing drifted. */
  private[graft] def commitPendingTombstones(): Unit = synchronized {
    if (!snapshots) return
    // compare against the latest RETAINED record at or below the live
    // generation — snap.v's own record may have been vacuumed under
    // keepHistory=0, and treating that as "recorded nothing" would
    // mint a new generation on EVERY cut of a table with any live
    // tombstone (re-cut idempotency violated). An older retained
    // record is a sound comparison point: tombstone maps only move at
    // drops (forward) and packs (cleared, which rewrites days and
    // mints its own generation), so live == as-of-r ⇒ nothing drifted
    // since r, hence nothing since snap.v ≥ r either.
    def pending(): Option[TsStore.Snapshot] = {
      val snap = loadSnapshot()
      if (snap.v <= 0L) return None // nothing ever committed: no record to lag
      val recorded = (snap.v +: snapshotVersions.filter(_ < snap.v).reverse)
        .iterator.map(historyRecord).collectFirst { case Some((_, t)) => t }
      recorded match {
        case Some(t) if t == tombstones => None // nothing drifted: no-op
        case Some(_) => Some(snap.copy(v = snap.v + 1, sub = 0))
        case None =>
          // no record retained at all: drift is undecidable — commit
          // only if any tombstone is live (a resurrected drop is worse
          // than one spurious generation; a table with no tombstones
          // trivially has nothing to record)
          if (tombstones.nonEmpty) Some(snap.copy(v = snap.v + 1, sub = 0))
          else None
      }
    }
    // decide first WITHOUT fencing (a no-drift probe must stay
    // read-only — a cut over another writer's live table must not
    // steal its lease), then fence and RE-DECIDE: a first mutation's
    // lease acquisition can adopt a pending foreign commit and move
    // the generation under the first read
    if (pending().nonEmpty) {
      checkFence()
      pending().foreach(s => commitSnapshot(s, advance = true))
    }
  }

  /** RESTORE the live table to committed generation `g`, as a NEW
    * generation (roll-forward — the Delta/Iceberg RESTORE shape): the
    * new manifest re-points every day at g's recorded version dirs
    * (METADATA-ONLY: no data file is read, copied, or moved, so
    * restore is O(days) at any corpus size), the live tombstones
    * revert to g's as-of record, and the un-flushed hot tail is
    * discarded (restore means "the corpus as of g"; rows set() after
    * the target are post-g by definition). Days committed after g
    * leave the manifest through the `removed` bookkeeping, so vacuum
    * reclaims their version dirs after the reader grace like any
    * other removal. History is never rewritten: generations after g
    * stay time-travelable, and the restore itself is just the next
    * generation — a mistaken restore is undone by restoring again.
    *
    * Refused when g's history record or any version dir it references
    * was already vacuumed (restore cannot re-materialize reclaimed
    * data) — pin the generation with a cut first if restore-ability
    * matters; a cut's pins make its generations restorable forever.
    *
    * Commit order: in-memory tombstones revert BEFORE the manifest
    * commit so the restore generation's history record carries g's
    * map; the meta sidecar persists after the swap (a crash between
    * re-loads pre-restore tombstones under a manifest already at g's
    * days — re-running the restore converges, like every interrupted
    * commit here). Returns the new live generation. */
  def restoreTo(g: Long): Long = fenced {
    // the fence (via [[fenced]]) runs first: a first mutation's adopt
    // pass must run before the live generation is read (save's rule)
    validateRestore(g)
    val (daysG, tombsG) = TsStore.readHistRecord(fs, path, g).get
    val snap = loadSnapshot()
    val now = System.currentTimeMillis()
    val removed = (snap.removed -- daysG.keySet) ++
      (snap.days.keySet -- daysG.keySet).map(_ -> now).toMap
    // tombstones revert in-memory BEFORE the commit (the restore
    // generation's history record must carry g's map) but are put
    // back if the commit throws (fence, IO): a failed restore must
    // leave this handle serving the pre-restore state, not a chimera
    // of old days under restored tombstones. The hot tail is likewise
    // discarded only once the restore has actually committed.
    val prevTombstones = tombstones
    tombstones = tombsG
    try commitSnapshot(TsStore.Snapshot(snap.v + 1, daysG, removed),
      advance = true, cur0 = Some(snap))
    catch { case e: Throwable => tombstones = prevTombstones; throw e }
    invalidateCold()
    clearHot()
    persistMeta()
    // restore re-points/removes arbitrary days — feed the scoped
    // auto-vacuum like every other commit path, or the superseded
    // dirs and removal records it produced are never revisited
    fullVacuumNeeded = true
    onColdChange(TsStore.Rewritten)
    snap.v + 1
  }

  /** Validation half of [[restoreTo]] — every check, no mutation.
    * [[graft.api.Engine.restoreToCut]] runs it across ALL tables
    * before the first restore commits, so a cut with one
    * unrestorable table fails fast instead of fail-partial. */
  private[graft] def validateRestore(g: Long): Unit = synchronized {
    require(snapshots, s"$path: restoreTo requires snapshot mode")
    val (daysG, _) = TsStore.readHistRecord(fs, path, g).getOrElse(
      throw new IllegalArgumentException(
        s"$path: generation $g is unknown or its history record was " +
          "vacuumed — cannot restore"))
    daysG.foreach { case (day, ver) =>
      val p = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(path, day), s"__v=$ver")
      require(fs.exists(p),
        s"$path: restoreTo($g): $day version $ver was vacuumed — " +
          "cannot restore (cuts pin generations against this)")
    }
    require(g <= loadSnapshot().v,
      s"$path: restoreTo($g): generation is ahead of the live manifest")
  }

  /** Committed generations available for time travel, ascending. */
  def snapshotVersions: Seq[Long] = synchronized {
    val f = fs
    if (!snapshots || !f.exists(histDir)) Seq.empty
    else f.listStatus(histDir)
      .map(_.getPath.getName)
      .collect { case TsStore.HistFile(v) => v.toLong }
      .toSeq.sorted
  }

  /** `recordHistory = false` is for same-generation bookkeeping
    * rewrites (vacuum's removal-record retirement): a generation's
    * history record must only ever be written by the commit that
    * ADVANCED to it — re-minting one later would stamp it with
    * current tombstones instead of as-of-commit tombstones, silently
    * rewriting time-travel history (and resurrecting records a
    * keepHistory=0 vacuum just reclaimed).
    *
    * `advance = true` declares the commit's INSTRUCTION is an advance
    * (its content was derived as baseline+1) — such a commit must
    * NEVER fall into the same-generation sub-slot branch: if the live
    * manifest already sits AT its target generation, either a replay
    * of this very instruction landed it (equal content → success) or
    * another writer's commit/seal consumed the generation (different
    * content → FENCED). Without the flag, a takeover sealing the
    * reserved generation mid-flight would let the superseded advance
    * claim `(v, 1)` as a "bookkeeping rewrite" and publish content
    * derived from the superseded baseline OVER the seal — an
    * acknowledged commit the next reader silently shadows.
    *
    * `cur0` lets a caller that just resolved the live snapshot (and
    * has run nothing manifest-moving since) pass it in, skipping a
    * redundant re-resolve; the claim remains the safety arbiter for
    * anything that moved in between. */
  private def commitSnapshot(s: TsStore.Snapshot,
      recordHistory: Boolean = true,
      advance: Boolean = false,
      cur0: Option[TsStore.Snapshot] = None): Unit = {
    checkFence() // policy gate; the exclusive slot claim below is the
    // SAFETY gate — a takeover landing after this check loses nothing
    val myToken = leaseToken.getOrElse(
      throw new IllegalStateException("commit without a lease")) // unreachable
    // ── chain check: this commit's content was derived from some
    // baseline generation; the claim slot encodes it. An advance
    // (s.v = live+1) claims (s.v, 0); a same-generation bookkeeping
    // rewrite (vacuum's removal-record retirement) claims the next
    // sub-slot. Anything else means another writer moved the manifest
    // since this commit's inputs were read — committing would publish
    // state derived from a superseded corpus, the exact lost update
    // the old rename-over protocol could only roll back after the
    // fact. Here it cannot happen: the claim slot would not chain.
    val cur = cur0.getOrElse(loadSnapshot())
    var alreadyLanded = false
    val target =
      if (s.v == cur.v + 1) TsStore.SnapSlot(s.v, 0)
      else if (s.v == cur.v && s.v > 0L && advance) {
        // an ADVANCE whose target generation is already live: a
        // concurrent replay of this instruction (takeover adoption,
        // open-time recovery) landed it — equal content means this
        // commit IS committed; anything else consumed the generation
        // with different content (a takeover's seal, a foreign
        // commit) and this advance must not land at all — least of
        // all as a sub-slot over it
        if (cur.days == s.days && cur.removed.keySet == s.removed.keySet) {
          alreadyLanded = true
          TsStore.SnapSlot(s.v, cur.sub)
        } else throw new IllegalStateException(
          s"$path: commit FENCED — generation ${s.v} was committed " +
            "by another writer with different content (a takeover " +
            "sealed or superseded this in-flight commit); this write " +
            "did not land. Re-open the store to continue.")
      }
      else if (s.v == cur.v && s.v > 0L) TsStore.SnapSlot(s.v, cur.sub + 1)
      else throw new IllegalStateException(
        s"$path: commit FENCED — this commit's baseline is stale " +
          s"(it targets generation ${s.v} but the live manifest is at " +
          s"${cur.v}.${cur.sub}): another writer advanced the store; " +
          "this write did not land. Re-open the store to continue.")
    if (alreadyLanded) {
      slotHint = Some(target)
      // run the GC round the skipped commit would have run — without
      // it this round's retirable generation waits for the NEXT real
      // commit's range sweep (and leaks for the handle's lifetime if
      // this was its last commit) — r19 advice
      gcManifestSlots(target)
      if (recordHistory) writeHistory(s)
    } else commitSnapshotAt(s, target, myToken, recordHistory)
  }

  private def commitSnapshotAt(s: TsStore.Snapshot,
      target: TsStore.SnapSlot, myToken: String,
      recordHistory: Boolean): Unit = {
    // resurrection guard: GC frees retired slot NAMES after recording
    // the floor, so a claimant stalled across takeovers can win a
    // claim of a freed name that no reader would resolve as newest —
    // refuse before claiming. The pre-claim check reads the CACHED
    // floor (cheap, possibly stale); the authoritative re-verify runs
    // AFTER the claim is won (below), closing the check-then-act
    // window a stalled writer could otherwise slip through.
    if (target.v <= cachedFloor)
      throw new IllegalStateException(
        s"$path: commit FENCED — slot $target was already retired by " +
          "GC (this writer stalled across takeovers); this write did " +
          "not land. Re-open the store to continue.")
    val m = TsStore.Json
    val root = m.createObjectNode()
    root.put("v", s.v)
    root.put("sub", target.k)
    // writer identity rides in the manifest for diagnostics and for
    // the equal-content check below (a recovery replay of THIS commit
    // differs only here)
    val w = root.putObject("writer")
    w.put("token", myToken)
    w.put("epoch", leaseEpoch)
    val d = root.putObject("days")
    s.days.toSeq.sortBy(_._1).foreach { case (k, ver) => d.put(k, ver) }
    val r = root.putObject("removed")
    s.removed.toSeq.sortBy(_._1).foreach { case (k, ts) => r.put(k, ts) }
    // UNIQUE tmp per writer (token suffix): concurrent claimants must
    // never consume each other's staged bytes
    val tmp = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + s"__snapshot.json.tmp.$myToken")
    val out = fs.create(tmp, true)
    try out.write(m.writeValueAsBytes(root)) finally out.close()
    onBeforeSnapshotClaim()
    // ── THE commit point: an exclusive claim of the slot. Exactly one
    // of N concurrent claimants wins; there is no in-between state, no
    // rollback, and no verify window — the lost-update race the old
    // rename-over protocol carried (documented three rounds running)
    // is structurally gone. A commit that wins is linearized at the
    // claim instant; a commit that loses provably never published.
    val won =
      try TsStore.commitExclusive(fs, tmp, TsStore.slotFile(path, target))
      catch {
        // our staged tmp vanished mid-claim (ENOENT spelling differs
        // by path: Hadoop throws FileNotFound, java.nio NoSuchFile):
        // a takeover's recovery swept it as stale. Report the fence,
        // not a mystery ENOENT — the commit did not land either way.
        case e @ (_: java.io.FileNotFoundException |
                  _: java.nio.file.NoSuchFileException) =>
          if (!readLease().exists(_.path("token").asText() == myToken))
            throw new IllegalStateException(
              s"$path: commit FENCED mid-claim — the store root was " +
                "taken over during this commit and the takeover swept " +
                "the staged manifest; this write did not land. Re-open " +
                "the store to take the root back.", e)
          else throw e
      }
    if (!won) {
      // the slot was claimed first by someone else. One benign
      // spelling: a concurrent replay of THIS VERY commit (takeover
      // adoption, open-time recovery) — replays rebuild the identical
      // content from the same on-disk instruction, so equal content
      // means this commit IS committed, just by another hand.
      // `removed` compares by KEY SET: its values are removal epochs a
      // replay re-stamps with its own clock, and the days map already
      // fully determines the corpus the slot publishes
      val there = scala.util.Try(TsStore.readSnapshot(fs,
        TsStore.slotFile(path, target))).toOption
      if (there.exists(t => t.v == s.v && t.days == s.days &&
          t.removed.keySet == s.removed.keySet)) {
        noteCommitted(target, s)
        if (recordHistory) writeHistory(s)
        return
      }
      val owner = readLease().map(_.path("owner").asText()).getOrElse("unknown")
      throw new IllegalStateException(
        s"$path: commit FENCED at the manifest claim — slot $target " +
          s"was committed by another writer ('$owner' holds the lease); " +
          "this write did not land. Re-open the store to take the " +
          "root back.")
    }
    // ── post-claim resurrection RE-VERIFY (authoritative, fresh
    // read): the pre-claim floor check is check-then-act — a writer
    // stalled between it and the claim can still win a slot name GC
    // freed in the interim (takeover + 2 commits + GC inside the
    // window). Re-read the floor now that the claim is won: at or
    // below it means this slot name was retired and no reader will
    // ever resolve it as newest — unlink the claim and fail loudly
    // instead of acknowledging a silent lost update.
    floorCache = TsStore.readFloor(fs, path)
    if (target.v <= floorCache) {
      scala.util.Try(fs.delete(TsStore.slotFile(path, target), false))
      throw new IllegalStateException(
        s"$path: commit FENCED — slot $target was retired by GC while " +
          "this commit was in flight (writer stalled across takeovers); " +
          "the claim was withdrawn and this write did not land. " +
          "Re-open the store to continue.")
    }
    noteCommitted(target, s)
    gcManifestSlots(target)
    if (recordHistory) writeHistory(s)
  }

  /** Record a just-resolved committed slot in the handle's in-memory
    * protocol state: the probe hint, the snapshot CONTENT cache (so
    * the next loadSnapshot whose walk lands here skips the JSON
    * re-read), and the generation's sub-slot count for GC. */
  private def noteCommitted(target: TsStore.SnapSlot,
      s: TsStore.Snapshot): Unit = {
    slotHint = Some(target)
    snapCache = Some((target, s.copy(sub = target.k)))
    recentSubs += target.v -> target.k
    if (recentSubs.size > 8) recentSubs -= recentSubs.keys.min
  }

  /** Retire manifest machinery the committed slot supersedes: slots
    * and reservations at generations ≤ committed−2 (committed−1 stays
    * one behind for readers that listed before this claim — and its
    * survival is what keeps [[loadSnapshot]]'s forward probe-walk
    * sound for a hint lagging one commit), plus the legacy single-file
    * manifest once any numbered slot exists. The floor records the
    * highest retired generation BEFORE anything is freed, so a stale
    * claimant re-claiming a freed name is always detectable.
    *
    * PROBE-DRIVEN, no directory listing: GC always retires generations
    * newest-retirable-first and contiguously, so "newest retirable
    * holds nothing" proves there is no backlog below it either — the
    * steady state is two existence probes per commit, never an
    * O(root-dir entries) listing (a 10k-table engine root would pay
    * that listing on EVERY table's every commit). A crash mid-walk
    * leaves a contiguous backlog the next commit's walk resumes; a
    * generation's sub-slots are deleted highest-k-first so a partial
    * sweep still leaves (g,0) as the resume marker. */
  private def gcManifestSlots(committed: TsStore.SnapSlot): Unit = {
    val f = fs
    val g = committed.v - 2
    if (g >= 1 && g >= gcCleanBelow) {
      if (gcCleanBelow < 0L) {
        // first GC of this handle: ONE listing sweep of everything
        // retirable. Besides seeding the watermark, this heals the
        // backlog a predecessor's crash exactly between finishing one
        // generation and touching the next left below an EMPTY
        // generation — the old probe-driven walk stopped there and
        // orphaned the rest forever.
        val (slots, resvs) = TsStore.listSlotsAndResvs(f, path)
        val retireSlots = slots.filter(sl => sl.v >= 1 && sl.v <= g)
        val retireResvs = resvs.filter(rv => rv >= 1 && rv <= g)
        if (retireSlots.nonEmpty || retireResvs.nonEmpty) {
          if (g > cachedFloor) writeFloorCached(f, g)
          retireSlots.sorted.reverse.foreach(sl =>
            f.delete(TsStore.slotFile(path, sl), false))
          retireResvs.foreach(rv =>
            f.delete(TsStore.resvFile(path, rv), false))
        }
      } else {
        // steady state: retire every generation in [gcCleanBelow, g] —
        // normally exactly one, but a skipped round (an alreadyLanded
        // replay, a retaken lease) leaves a contiguous backlog this
        // range sweep heals instead of leaking for the handle's
        // lifetime (r19 advice). No downward probing below the
        // watermark (everything there is already clean). The floor is
        // written BEFORE any free.
        if (g > cachedFloor) writeFloorCached(f, g)
        (math.max(gcCleanBelow, 1L) to g).foreach { gen =>
          // probe UPWARD from the recorded sub count: after a lease
          // retake a foreign writer may have minted sub-slots above
          // what this handle saw (stale recentSubs would leak them).
          // Steady state pays exactly one false exists-probe.
          val hi = {
            var k = recentSubs.getOrElse(gen, 0)
            while (f.exists(TsStore.slotFile(path, TsStore.SnapSlot(gen, k + 1))))
              k += 1
            k
          }
          (hi to 0 by -1).foreach { k =>
            f.delete(TsStore.slotFile(path, TsStore.SnapSlot(gen, k)), false)
          }
          f.delete(TsStore.resvFile(path, gen), false)
          recentSubs -= gen
        }
      }
      gcCleanBelow = g + 1
    } else if (gcCleanBelow < 0L && committed.v >= 1)
      gcCleanBelow = math.max(1L, committed.v - 1)
    // the legacy manifest's content rode into the first numbered claim
    // as its baseline; readers that found no numbered slot and saw the
    // legacy file vanish re-list and find the slot (readLiveSnapshot's
    // second-pass rule)
    if (legacySnapMayExist) {
      if (f.exists(snapFile)) f.delete(snapFile, false)
      legacySnapMayExist = false
    }
  }

  /** [[TsStore.writeFloor]] + cache refresh, advancing only (a floor
    * regression widens the resurrection window the floor exists to
    * close — see writeFloor's monotonicity note). */
  private def writeFloorCached(f: org.apache.hadoop.fs.FileSystem,
      g: Long): Unit = {
    TsStore.writeFloor(f, path, g, leaseToken.getOrElse("anon"))
    floorCache = math.max(floorCache, g)
  }

  /** Rename a commit's produced day dirs from `tmp` into their
    * `__day=X/__v=targetV` slots. Idempotent from any crash point: a
    * day already renamed out of the tmp is skipped (its dest is in
    * place), and `targetV` is read from the tmp's commit instruction —
    * NOT re-derived from the live manifest — so a replay that runs
    * after the manifest already swapped places (nothing) at the same
    * version instead of minting a phantom v+2 no dir ever held. */
  private def placeVersions(tmp: org.apache.hadoop.fs.Path,
      days: Seq[String], targetV: Long): Boolean = {
    val f = fs
    var placedAny = false
    days.foreach { name =>
      val src = new org.apache.hadoop.fs.Path(tmp, name)
      if (f.exists(src)) {
        val dayDir = new org.apache.hadoop.fs.Path(path, name)
        f.mkdirs(dayDir)
        val dest = new org.apache.hadoop.fs.Path(dayDir, s"__v=$targetV")
        f.delete(dest, true) // partial rename from an interrupted redo
        if (!f.rename(src, dest))
          throw new java.io.IOException(s"snapshot commit: could not place $dest")
        // placed-at stamp: vacuum's supersededGraceMs measures "time
        // since this version was superseded-able", which needs the
        // PLACEMENT instant. Dir mtimes carry it on HDFS/posix but are
        // meaningless on object stores — so the committer records the
        // instant in a stamp file inside the version dir (underscore
        // prefix: hidden from Spark's file listings). A crash between
        // the rename and the stamp leaves no stamp; vacuum falls back
        // to the dir mtime then.
        val stamp = new org.apache.hadoop.fs.Path(dest, TsStore.PlacedStamp)
        val so = f.create(stamp, true)
        try so.write(System.currentTimeMillis().toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally so.close()
        placedAny = true
      }
    }
    placedAny
  }

  /** Shared replay spine of the three snapshot commit routines.
    * Everything — the placement included — is guarded by
    * `snap.v < targetV`: once the manifest has swapped past targetV,
    * a replay must change NOTHING (the online order places every day
    * before the swap, so a post-swap replay has nothing left to do —
    * and an unguarded placement would let a stale complete tmp stomp
    * version slots a LATER commit legitimately re-used, resurrecting
    * deleted rows). A replay that skips the swap still back-fills the
    * generation's time-travel record if the crash landed between the
    * manifest rename and [[writeHistory]] (first-writer-wins, and the
    * live tombstones were loaded before recovery ran).
    *
    * `targetV` rides in the tmp's commit instruction; a LEGACY tmp
    * (pre-`v` builds) re-derives `snap.v + 1`, which is wrong exactly
    * when the crash fell after the swap — so for a legacy tmp that
    * placed nothing (fully drained) whose commit days all sit in the
    * manifest at the CURRENT generation, the swap already happened
    * and is skipped rather than re-run at a phantom version no dir
    * ever held. A legacy tmp that placed nothing and carries NO
    * produced days at all (a delete whose affected days were all
    * removed) can't use that day-version evidence — the caller
    * supplies `legacyNoop`, which checks the commit's own effect
    * (e.g. every removed day already absent from the manifest) to
    * the same end: replay after the swap must change NOTHING, not
    * mint a phantom generation. */
  private def commitVersioned(tmp: org.apache.hadoop.fs.Path,
      days: Seq[String], storedV: Option[Long],
      next: (TsStore.Snapshot, Long) => TsStore.Snapshot,
      kind: String,
      legacyNoop: TsStore.Snapshot => Boolean = _ => false): Unit = {
    val snap0 = loadSnapshot()
    val targetV = storedV.getOrElse(snap0.v + 1)
    if (snap0.v < targetV) {
      if (targetV != snap0.v + 1) throw new IllegalStateException(
        s"$path: commit FENCED — the commit instruction targets " +
          s"generation $targetV but the live manifest is at ${snap0.v}: " +
          "another writer moved the store since this commit was staged; " +
          "this write did not land.")
      // ── reserve the version slot BEFORE placing a single day dir:
      // placements happen ahead of the atomic claim (crash-replay
      // needs them on disk first), so without exclusivity two writers'
      // placements could interleave inside one __v=N slot and the
      // claim winner would publish a mix. The reservation makes the
      // slot single-writer; an identical-instruction replay (takeover
      // adoption, open-time recovery — recognized by the recorded tmp
      // path, unique per writer token) re-enters it instead.
      claimOrAdoptResv(targetV, tmp, kind)
      // the reservation handshake can COMPLETE this very commit: a
      // first-mutation lease takeover seals/adopts pending slots, and
      // adopting replays the same instruction this call is committing
      val snap = loadSnapshot()
      if (snap.v >= targetV) { writeHistory(snap); return }
      val placedAny = placeVersions(tmp, days, targetV)
      val legacyAlreadySwapped = storedV.isEmpty && !placedAny &&
        (if (days.nonEmpty) days.forall(d => snap.days.get(d).contains(snap.v))
         else legacyNoop(snap))
      if (!legacyAlreadySwapped)
        try commitSnapshot(next(snap, targetV), advance = true,
          cur0 = Some(snap))
        catch { case e: IllegalStateException =>
          // FENCED at the claim: delete the tmp (best-effort) so the
          // NEW writer's recovery cannot replay this commit later —
          // "did not land" must stay true. The placed version dirs
          // are inert orphans vacuum reclaims; the consumed
          // reservation is sealed by the new writer's first advance.
          scala.util.Try(fs.delete(tmp, true))
          throw e
        }
    } else writeHistory(snap0)
  }

  /** Claim the reservation that makes version slot `v`'s placements
    * exclusive to one commit instruction. Outcomes:
    *  - fresh claim wins → the slot is this writer's;
    *  - already reserved by THIS instruction (same recorded tmp path —
    *    tmp names are writer-token-unique) → re-enter: a crash replay
    *    or takeover adoption placing the same bytes;
    *  - already reserved by a DIFFERENT instruction → a concurrent
    *    writer is mid-commit at this generation with different data —
    *    placing would mix bytes inside the slot, so fail loudly
    *    (FENCED); the lease holder's seal/adopt pass is what resolves
    *    the pending slot.
    * The floor guard refuses generations GC already retired (a stale
    * claimant re-claiming a freed reservation name would otherwise
    * place fresh bytes into version dirs that time-travel records
    * still reference). */
  private def claimOrAdoptResv(v: Long,
      tmp: org.apache.hadoop.fs.Path, kind: String): Unit = {
    checkFence() // acquires the lease on a first mutation — which
    // seals/adopts pending slots before any targetV math trusts them
    val myToken = leaseToken.get
    // pre-claim resurrection check against the CACHED floor (cheap);
    // the authoritative fresh read runs after the claim is won
    if (v <= cachedFloor) throw new IllegalStateException(
      s"$path: commit FENCED — generation $v was already retired by GC " +
        "(this writer stalled across takeovers); this write did not land.")
    val root = TsStore.Json.createObjectNode()
    root.put("v", v)
    root.put("token", myToken)
    root.put("tmp", tmp.toString)
    root.put("kind", kind)
    val bytes = TsStore.Json.writeValueAsBytes(root)
    val ctmp = new org.apache.hadoop.fs.Path(path.stripSuffix("/") +
      s"__resv.$v.json.tmp.$myToken")
    val out = fs.create(ctmp, true)
    try out.write(bytes) finally out.close()
    if (!TsStore.commitExclusive(fs, ctmp, TsStore.resvFile(path, v))) {
      val there = scala.util.Try(TsStore.Json.readTree(
        TsStore.readJsonBytes(fs, TsStore.resvFile(path, v)))).toOption
      val sameWriter = there.exists(_.path("token").asText() == myToken)
      val sameInstruction = there.exists(_.path("tmp").asText() == tmp.toString)
      if (!sameInstruction && sameWriter) {
        // this writer's OWN reservation from a DIFFERENT, aborted
        // instruction (a commit that failed after reserving, same
        // generation). Re-entering as-is would break the protocol
        // invariant that the recorded tmp IS the generation's one
        // instruction — a concurrent takeover reading the stale
        // record could adopt the aborted bytes over ours. Retire the
        // stale instruction first (its tmp vanishes, so any adopter
        // finds it incomplete and seals instead), then re-record the
        // reservation as this instruction.
        there.map(_.path("tmp").asText()).filter(_.nonEmpty).foreach(old =>
          scala.util.Try(fs.delete(new org.apache.hadoop.fs.Path(old), true)))
        val out2 = fs.create(ctmp, true)
        try out2.write(bytes) finally out2.close()
        TsStore.atomicReplace(fs, ctmp, TsStore.resvFile(path, v))
      } else if (!sameInstruction) {
        val owner = readLease().map(_.path("owner").asText()).getOrElse("unknown")
        throw new IllegalStateException(
          s"$path: commit FENCED at the generation reservation — " +
            s"generation $v is reserved by another writer's in-flight " +
            s"commit ('$owner' holds the lease); this write did not " +
            "land. Re-open the store to take the root back.")
      }
    } else {
      // post-claim resurrection RE-VERIFY (fresh read): a writer
      // stalled between the cached check and the claim could have
      // won a reservation name GC freed — placements under it would
      // write into version dirs time-travel records still reference
      floorCache = TsStore.readFloor(fs, path)
      if (v <= floorCache) {
        scala.util.Try(fs.delete(TsStore.resvFile(path, v), false))
        throw new IllegalStateException(
          s"$path: commit FENCED — generation $v was retired by GC " +
            "while this reservation was in flight; the claim was " +
            "withdrawn and this write did not land.")
      }
    }
  }

  /** Commit a save tmp as a snapshot: produced days advance to the
    * instruction's `targetV`, untouched days keep their versions. The
    * commit instruction is the tmp's [[TsStore.CommitManifest]]
    * (written after the job's `_SUCCESS`), so recovery knows the FULL
    * day list — and the version to commit AT — even after a crash
    * mid-rename emptied part of the tmp or a crash after the manifest
    * swap left only the undeleted tmp behind; in the latter replay
    * `snap.v >= targetV` and the swap is skipped (it already
    * happened — re-deriving v+1 from the bumped manifest is how a
    * replay would point days at dirs that never existed). */
  private def commitSavingSnapshot(tmp: org.apache.hadoop.fs.Path): Unit = {
    val (days, storedV) = TsStore.readCommitDays(fs,
      new org.apache.hadoop.fs.Path(tmp, TsStore.CommitManifest))
    noteDirtyDays(days)
    commitVersioned(tmp, days, storedV, (snap, targetV) =>
      TsStore.Snapshot(targetV,
        snap.days ++ days.map(_ -> targetV),
        snap.removed -- days),
      kind = "saving")
  }

  /** Commit a delete tmp as a snapshot: `replaced` days advance to
    * the instruction's `targetV`, `removed` days leave the manifest
    * (their old version dirs linger for pinned readers, stamped with
    * a removal time so [[vacuum]] can reclaim them once the grace
    * window passes). Replay-idempotent exactly as
    * [[commitSavingSnapshot]]. */
  private def commitDeletingSnapshot(tmp: org.apache.hadoop.fs.Path): Unit = {
    val (replaced, removed, storedV) = TsStore.readAffected(fs,
      new org.apache.hadoop.fs.Path(tmp, TsStore.AffectedManifest))
    noteDirtyDays(replaced ++ removed)
    commitVersioned(tmp, replaced, storedV, (snap, targetV) =>
      TsStore.Snapshot(targetV,
        snap.days ++ replaced.map(_ -> targetV) -- removed,
        snap.removed -- replaced ++
          removed.map(_ -> System.currentTimeMillis())),
      kind = "deleting",
      // a legacy all-days-removed delete (replaced empty) placed no
      // dirs, so the only replay evidence is the removal itself:
      // every removed day already out of the manifest ⇒ the swap
      // committed — skip, don't re-stamp removal epochs at v+1
      legacyNoop = snap => removed.forall(d => !snap.days.contains(d)))
  }

  /** Commit a pack tmp as a snapshot: the manifest becomes EXACTLY the
    * produced days (a day whose rows were all tombstoned vanishes —
    * recorded as removed so vacuum reclaims it after the grace).
    * Replay-idempotent exactly as [[commitSavingSnapshot]]. */
  private def commitPackedSnapshot(tmp: org.apache.hadoop.fs.Path): Unit = {
    val (days, storedV) = TsStore.readCommitDays(fs,
      new org.apache.hadoop.fs.Path(tmp, TsStore.CommitManifest))
    // pack rewrites every day — the next scheduled vacuum must sweep
    // the whole store (pack itself is O(store), so this adds nothing)
    fullVacuumNeeded = true
    commitVersioned(tmp, days, storedV, (snap, targetV) => {
      val gone = snap.days.keySet -- days
      TsStore.Snapshot(targetV, days.map(_ -> targetV).toMap,
        snap.removed -- days ++
          gone.map(_ -> System.currentTimeMillis()))
    }, kind = "packed")
  }

  /** The committed manifest's (day dir name, version) pairs, sorted by
    * day — the catalog-pinning surface behind snapshot-mode SQL
    * exposure (each day partition's location is
    * `path/<dayDir>/__v=<version>`). Empty outside snapshot mode or
    * before the first commit. Day names carry parquet's
    * partition-value escaping, exactly as stored in the manifest. */
  private[graft] def snapshotDays: Seq[(String, Long)] = synchronized {
    if (!snapshots) Seq.empty
    else loadSnapshot().days.toSeq.sortBy(_._1)
  }

  /** Version subdirs of one day dir, (name, version) sorted by version. */
  private def verDirs(dayDir: org.apache.hadoop.fs.Path): Seq[(String, Long)] = {
    val f = fs
    if (!f.exists(dayDir)) Seq.empty
    else f.listStatus(dayDir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__v="))
      .map(s => s.getPath.getName ->
        s.getPath.getName.stripPrefix("__v=").toLong)
      .toSeq.sortBy(_._2)
  }

  /** Garbage-collect version dirs no committed manifest needs: per
    * LIVE day, the referenced version survives plus the
    * `keepSuperseded` most recent below it (a grace window for
    * readers pinned to recent manifests). A day REMOVED from the
    * manifest (emptied by a delete, or vanished in a pack) has no
    * later version to ever supersede it, so a count-based keep would
    * leak its final dirs forever — instead the manifest records each
    * removal's epoch-ms ([[TsStore.Snapshot.removed]]) and vacuum
    * reclaims the whole day once `removedDayGraceMs` has passed since
    * the removal COMMITTED (not since the data was written — a reader
    * can pin a manifest long after that). Run it on the writer's
    * cadence with both graces ≥ the longest reader runtime — the
    * vacuum side of the snapshot contract. No-op outside snapshot
    * mode. */
  def vacuum(keepSuperseded: Int = TsStore.DefaultKeepSuperseded,
      removedDayGraceMs: Long = TsStore.DefaultRemovedDayGraceMs,
      keepHistory: Int = TsStore.DefaultKeepHistory,
      supersededGraceMs: Long = 0L): Unit =
    vacuumScoped(keepSuperseded, removedDayGraceMs, keepHistory,
      supersededGraceMs, scoped = false)

  /** Generations pinned by an OWNER beyond the `keepHistory` count —
    * the engine's cross-table snapshot cuts route here: a generation
    * referenced by any retained cut record must stay time-travel
    * readable no matter how many newer generations exist. Consulted
    * once per vacuum. */
  @volatile private[graft] var historyPins: () => Set[Long] = () => Set.empty

  private def vacuumScoped(keepSuperseded: Int, removedDayGraceMs: Long,
      keepHistory: Int, supersededGraceMs: Long, scoped: Boolean)
      : Unit = synchronized {
    if (!snapshots) return
    checkFence() // vacuum deletes live-store dirs — writers only
    invalidateCold() // cached cold/pinned plans may reference dirs or
    // history records this run reclaims
    // drain any pending commit first: a complete, replayable tmp may
    // have already PLACED version dirs the live manifest does not yet
    // reference — reclaiming those as "superseded orphans" would make
    // the later replay commit a manifest pointing at deleted dirs.
    // Recovery is idempotent and this store owns the write lock.
    // (Recovery can itself commit, adding dirty days — so the scope
    // is read AFTER it.)
    recoverSnapshotSwaps()
    val scope: Option[Set[String]] =
      if (scoped && !fullVacuumNeeded) Some(dirtyDaysSinceVacuum) else None
    val f = fs
    val snap = loadSnapshot()
    val root = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(root)) return
    val now = System.currentTimeMillis()
    // time-travel retention (third dial): the `keepHistory` newest
    // generation records survive — plus any generation an owner PINNED
    // ([[historyPins]]: the engine's cross-table snapshot cuts) — and
    // PIN every (day, version) they reference: a retained generation
    // must stay readable through [[TsStore.openSnapshotAt]] no matter
    // what the count/time graces would reclaim. Older generation
    // records are retired here (their dirs then fall to the ordinary
    // grace rules). Default 0 keeps the pre-time-travel reclamation
    // behavior exactly.
    val pins = historyPins()
    val histVers = snapshotVersions
    val retained = (histVers.takeRight(keepHistory) ++
      histVers.filter(pins.contains)).distinct.sorted
    histVers.filterNot(retained.contains).foreach(v =>
      f.delete(new org.apache.hadoop.fs.Path(histDir, s"v=$v.json"), false))
    val refs: Map[String, Set[Long]] = retained
      .flatMap { v =>
        TsStore.readSnapshot(f,
          new org.apache.hadoop.fs.Path(histDir, s"v=$v.json")).days.toSeq
      }
      .groupBy(_._1).map { case (d, vs) => d -> vs.map(_._2).toSet }
    var reclaimed = Set.empty[String]
    var pending = Set.empty[String]
    val dayStatuses: Seq[org.apache.hadoop.fs.FileStatus] = scope match {
      case Some(days) => days.toSeq.sorted.flatMap { name =>
        val p = new org.apache.hadoop.fs.Path(root, name)
        if (f.exists(p)) Some(f.getFileStatus(p)) else None
      }
      case None => f.listStatus(root)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("__day="))
        .toSeq
    }
    lastVacuumDaysListed = dayStatuses.length
    dayStatuses.foreach { s =>
        val name = s.getPath.getName
        val vers = verDirs(s.getPath)
        val graceKeep: Set[Long] = snap.days.get(name) match {
          case Some(ref) =>
            val older = vers.map(_._2).filter(_ < ref)
            // keepSuperseded is a COMMIT-COUNT grace — under a burst
            // of auto-flush saves it can cycle through in seconds, so
            // it cannot express "readers run for ≤ T". supersededGraceMs
            // adds the TIME guarantee for live days: a superseded
            // version survives while it is younger than the grace,
            // measured from the committer's placed-at stamp inside the
            // version dir (dir mtime as fallback for pre-stamp dirs —
            // mtimes are meaningless on object stores, which is why
            // the stamp exists).
            val countKeep = older.takeRight(keepSuperseded).toSet + ref
            val timeKeep: Set[Long] =
              if (supersededGraceMs <= 0L) Set.empty
              else f.listStatus(s.getPath)
                .filter(x => x.isDirectory &&
                  x.getPath.getName.startsWith("__v="))
                .filter(x => now - TsStore.placedAt(f, x) < supersededGraceMs)
                .map(_.getPath.getName.stripPrefix("__v=").toLong).toSet
            // a version kept ONLY by the time grace becomes
            // reclaimable when the clock (not a commit) passes —
            // the day must stay on the scheduled vacuum's worklist
            if ((timeKeep -- countKeep -- refs.getOrElse(name, Set.empty))
              .nonEmpty) pending += name
            countKeep ++ timeKeep
          case None =>
            snap.removed.get(name) match {
              case Some(at) if now - at >= removedDayGraceMs =>
                Set.empty // grace passed: unreferenced versions go
              case Some(_) =>
                // inside the grace EVERY version survives: these dirs
                // are exactly what a reader pinned to a pre-removal
                // manifest references, and keepSuperseded must not
                // undercut the time guarantee (keepSuperseded=0 would
                // otherwise void the grace entirely). Wall-clock will
                // expire the grace without a re-dirtying commit —
                // keep the day pending.
                pending += name
                vers.map(_._2).toSet
              case None =>
                // no removal record (pre-upgrade manifest): the old
                // count-based keep is the only grace available
                vers.map(_._2).takeRight(keepSuperseded).toSet
            }
        }
        val keep = graceKeep ++ refs.getOrElse(name, Set.empty)
        if (keep.isEmpty && snap.removed.contains(name)) reclaimed += name
        vers.filterNot(v => keep.contains(v._2)).foreach { case (vn, _) =>
          f.delete(new org.apache.hadoop.fs.Path(s.getPath, vn), true)
        }
        if (verDirs(s.getPath).isEmpty) f.delete(s.getPath, true)
      }
    // retire removal records for days that no longer hold any version
    // dir — reclaimed above via the grace, or earlier via
    // keepSuperseded=0 (which deletes dirs without retiring records) —
    // so the manifest's removed map stays bounded by days actually
    // awaiting reclamation (same v: vacuum is a writer op and changes
    // nothing any manifest reader can see). A scoped run probes only
    // in-scope records — out-of-scope removed days are still pending
    // reclamation by definition, and probing them would re-price the
    // scheduled path at O(removed days).
    val retireScan = scope.fold(snap.removed.keys.toSeq)(days =>
      snap.removed.keys.filter(days.contains).toSeq)
    val retired = reclaimed ++ retireScan.filterNot(d =>
      f.exists(new org.apache.hadoop.fs.Path(root, d)))
    if (retired.nonEmpty)
      commitSnapshot(snap.copy(removed = snap.removed -- retired),
        recordHistory = false)
    dirtyDaysSinceVacuum = pending
    if (scope.isEmpty) fullVacuumNeeded = false
  }

  // ── crash recovery: every cold rewrite commits through an on-disk
  // marker (`__saving`/`__deleting` per-day tmp dirs, `__packed` +
  // `__old` for pack's whole-store swap — the reference's safe-dir
  // save protocol, workers/sisdb/sisdb.h:184-189: merge under safe,
  // swap on success, restore on failure). A store opened over a path
  // with leftover markers finishes or rolls back the interrupted swap
  // BEFORE serving any read, so a crash can never silently lose the
  // only copy of the cold data.
  //
  // Snapshot mode has no swaps to unwind — the manifest either
  // committed (the change is fully visible) or didn't (invisible).
  // Recovery there only finishes an acknowledged commit whose renames
  // were interrupted: a tmp with BOTH `_SUCCESS` and its commit
  // manifest re-runs the idempotent versioned commit; anything less
  // is discarded, live snapshot untouched.
  private def recoverSnapshotSwaps(): Unit = {
    val f = fs
    // token-suffixed manifest tmps from crashed commits are swept
    // FIRST, while the lease still names the writer whose tmp must be
    // spared: the marker replays below can themselves commit (taking
    // the lease over), after which a live writer's staged tmp would
    // look stale and be swept out from under its in-flight rename.
    locally {
      val snapName = snapFile.getName
      val parent = snapFile.getParent
      val liveToken = readLease().map(_.path("token").asText()).getOrElse("")
      if (parent != null && f.exists(parent))
        f.listStatus(parent)
          .filter(s => s.isFile &&
            s.getPath.getName.startsWith(snapName + ".tmp.") &&
            s.getPath.getName != s"$snapName.tmp.$liveToken")
          .foreach(s => f.delete(s.getPath, false))
    }
    def complete(tmp: org.apache.hadoop.fs.Path, manifest: String): Boolean =
      f.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")) &&
        f.exists(new org.apache.hadoop.fs.Path(tmp, manifest))
    // staging tmps are writer-token-suffixed — process every writer's
    // (the legacy fixed names included), but SPARE the live lease
    // holder's: an active writer's in-flight stage must not be
    // replayed-and-deleted (or discarded half-written) out from under
    // it by a concurrent open of the same root.
    val liveTok8 = readLease().map(_.path("token").asText().take(8))
    def ownedByLiveWriter(t: org.apache.hadoop.fs.Path): Boolean =
      liveTok8.exists(tok => t.getName.endsWith("." + tok))
    def sweep(kind: String, manifest: String,
        replay: org.apache.hadoop.fs.Path => Unit): Unit =
      stagingTmps(kind).filterNot(ownedByLiveWriter).foreach { t =>
        if (complete(t, manifest)) replay(t)
        f.delete(t, true)
      }
    sweep("saving", TsStore.CommitManifest, commitSavingSnapshot)
    sweep("deleting", TsStore.AffectedManifest, commitDeletingSnapshot)
    sweep("packed", TsStore.CommitManifest, commitPackedSnapshot)
    f.delete(new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__snapshot.json.tmp"), false)
    f.delete(new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__meta.json.tmp"), false)
    f.delete(new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__snapfloor.json.tmp"), false)
    // reservation-claim tmps from a crash between create and link
    locally {
      val p = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
      val parent = p.getParent
      val rPre = p.getName + "__resv."
      if (parent != null && f.exists(parent))
        f.listStatus(parent)
          .filter(s => s.isFile && s.getPath.getName.startsWith(rPre) &&
            s.getPath.getName.contains(".json.tmp."))
          .foreach(s => f.delete(s.getPath, false))
    }
    // a writeHistory that died between create and rename leaves a
    // v=N.json.tmp no later pass touches (vacuum deletes exact names,
    // HistFile excludes .tmp) — sweep them here or they accumulate
    if (f.exists(histDir))
      f.listStatus(histDir)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".json.tmp"))
        .foreach(s => f.delete(s.getPath, false))
  }

  private def recoverSwaps(): Unit = if (snapshots) recoverSnapshotSwaps() else {
    val f = fs
    val p = new org.apache.hadoop.fs.Path(path)
    val oldP = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__old")
    val packedP = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__packed")
    if (f.exists(oldP)) {
      if (f.exists(p)) {
        // pack got past rename-in (live IS the packed output; `__old`
        // is the superseded pre-pack store) — finish: drop the backup
        f.delete(oldP, true)
      } else if (f.exists(packedP)) {
        // crashed between rename-aside and rename-in: the packed
        // replacement is complete by protocol order (pack renames
        // aside only after the packed write commits) — roll forward
        if (!f.rename(packedP, p))
          throw new java.io.IOException(s"swap recovery: could not commit $p")
        f.delete(oldP, true)
      } else {
        // no replacement to roll forward — restore the original
        if (!f.rename(oldP, p))
          throw new java.io.IOException(s"swap recovery: could not restore $p")
      }
    } else if (f.exists(packedP)) {
      // pack crashed during (or right after) the packed WRITE, before
      // touching the live store — live is authoritative, tmp is trash
      f.delete(packedP, true)
    }
    // per-day swaps. save's tmp holds the merged rows for each
    // still-unswapped day: `_SUCCESS` distinguishes a completed write
    // (roll the remaining days forward — this also recovers the hot
    // rows being flushed) from a write that died midway (live store
    // untouched — discard the tmp). save never REMOVES a day, so the
    // produced dirs are the complete commit instruction.
    val saving = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__saving")
    if (f.exists(saving)) {
      if (f.exists(new org.apache.hadoop.fs.Path(saving, "_SUCCESS"))) {
        f.mkdirs(p)
        dayDirs(saving).foreach { case (name, _) =>
          val dest = new org.apache.hadoop.fs.Path(p, name)
          f.delete(dest, true)
          if (!f.rename(new org.apache.hadoop.fs.Path(saving, name), dest))
            throw new java.io.IOException(
              s"swap recovery: could not commit day partition $dest")
        }
      }
      f.delete(saving, true)
    }
    // deleteWhere's tmp is NOT self-describing: a day the delete
    // emptied is absent from it, indistinguishable from a day the
    // delete never touched — rolling forward from the dirs alone
    // commits half the delete (rewritten days lose their rows, emptied
    // days keep all of theirs). So the commit instruction is the
    // affected-day MANIFEST deleteWhere writes after the job commits;
    // only _SUCCESS + manifest together mean "acknowledgeable", and
    // [[commitDeleting]] (shared with the online path) applies it
    // idempotently from any crash point. _SUCCESS without the manifest
    // = crashed before acknowledgement — live store untouched, discard.
    val deleting = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__deleting")
    if (f.exists(deleting)) {
      if (f.exists(new org.apache.hadoop.fs.Path(deleting, "_SUCCESS")) &&
        f.exists(new org.apache.hadoop.fs.Path(deleting, TsStore.AffectedManifest)))
        commitDeleting(deleting)
      f.delete(deleting, true)
    }
    // a persistMeta interrupted mid-write leaves only this tmp; the
    // committed meta (if any) is intact because the rename is atomic
    f.delete(new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__meta.json.tmp"), false)
  }

  /** Apply a delete tmp's affected-day manifest to the live store —
    * the single commit routine for BOTH the online deleteWhere and
    * crash recovery, idempotent from any interruption point:
    * a `replaced` day still in the tmp swaps in (delete-dest +
    * rename); one already renamed out of the tmp was committed by a
    * previous attempt (no-op); a `removed` day is deleted from the
    * live store (re-deleting is a no-op). */
  private def commitDeleting(tmp: org.apache.hadoop.fs.Path): Unit = {
    val f = fs
    val p = new org.apache.hadoop.fs.Path(path)
    val in = f.open(new org.apache.hadoop.fs.Path(tmp, TsStore.AffectedManifest))
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
        buf.toByteArray
      } finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
    def names(k: String): Seq[String] =
      (0 until node.path(k).size()).map(node.path(k).get(_).asText())
    f.mkdirs(p)
    names("replaced").foreach { name =>
      val src = new org.apache.hadoop.fs.Path(tmp, name)
      if (f.exists(src)) {
        val dest = new org.apache.hadoop.fs.Path(p, name)
        f.delete(dest, true)
        if (!f.rename(src, dest))
          throw new java.io.IOException(
            s"delete commit: could not swap day partition $dest")
      }
    }
    names("removed").foreach { name =>
      f.delete(new org.apache.hadoop.fs.Path(p, name), true)
    }
  }

  /** Rows KILLED by an active tombstone (cold side only — hot batches
    * are anti-filtered at drop time). */
  private def tombDead: Option[org.apache.spark.sql.Column] =
    TsStore.tombstoneFilter(tombstones, subject)

  private def tombFiltered(df: DataFrame): DataFrame =
    tombDead.fold(df)(dead => df.filter(!dead))

  /** The live tombstones, for owners that mirror the store elsewhere
    * (the engine's SQL view rebuilds its WHERE from this). */
  private[graft] def tombstoneList: Seq[(String, Long)] =
    synchronized(tombstones.toSeq.sortBy(_._1))

  /** True when no row was ever written (no cold files, no hot tail) —
    * `del`/`drop` on such a store are benign no-ops, matching the
    * reference's no-data handling. */
  def isEmpty: Boolean = synchronized { hotFrames.isEmpty && !coldExists }

  /** Staged-but-unflushed row count — the quantity [[maxHotRows]]
    * bounds. */
  def hotSize: Long = synchronized(hotRows)

  // ── cold PLAN cache: constructing the cold frame costs a directory
  // listing of every referenced version dir plus a parquet footer
  // read for schema inference, repeated on every read()/save() even
  // though the dirs a committed manifest references are IMMUTABLE.
  // Cache the constructed DataFrame keyed on (manifest slot, era
  // count, explicit invalidation epoch) — a plan/metadata reuse only:
  // every action still scans the parquet, nothing row-level is
  // persisted. Flat mode keys on the epoch alone (its commits bump
  // it; snapshot-mode commits move the slot, so the epoch is a
  // belt for paths that change layout without moving it — restore,
  // vacuum, recovery).
  private def invalidateCold(): Unit = synchronized {
    coldEpoch += 1
    coldCacheKey = None
    coldCacheFrame = None
    pinnedCache = Map.empty
  }

  /** [[TsStore.openSnapshotAt]] through this handle, with the pinned
    * frame memoized per generation (see [[pinnedCache]]). */
  private[graft] def openPinned(v: Long, subjectCol: String)
      : Option[DataFrame] = synchronized {
    pinnedCache.get(v) match {
      case Some(df) => df
      case None =>
        val df = TsStore.openSnapshotAt(spark, path, v, subjectCol)
        pinnedCache += v -> df
        if (pinnedCache.size > 16) pinnedCache -= pinnedCache.keys.min
        df
    }
  }

  def cold: Option[DataFrame] = synchronized {
    if (snapshots) {
      // resolve the manifest ONCE; the returned frame reads immutable
      // version dirs (basePath recovers __day as a partition column,
      // so day pruning fires exactly as in the flat layout). An
      // evolved store's dirs span schema eras — each era group is
      // read self-described and aligned to the LIVE era (see the
      // `eraRecords` block above); a single-era store takes the
      // plain-read path unchanged.
      val snap = loadSnapshot()
      if (snap.days.isEmpty) None
      else {
        val key = (coldEpoch, snap.v, snap.sub, eraRecords.size)
        if (!coldCacheKey.contains(key)) {
          coldCacheFrame = Some(TsStore.readVersionedAligned(
            spark, path, snap.days, eraRecords, currentEra))
          coldCacheKey = Some(key)
        }
        coldCacheFrame
      }
    } else {
      // flat mode has no manifest slot to act as an external freshness
      // signal, and the handle-private epoch only sees THIS handle's
      // mutations — a second writer's flush or in-place day rewrite
      // left a cached frame referencing deleted files (r19 advice).
      // Key on a one-level listing fingerprint of the day dirs
      // (name + mtime): every flat commit path swaps whole day dirs
      // via rename, so any external change moves the fingerprint. One
      // listStatus per call, vs the recursive listing + parquet footer
      // schema inference the cache exists to avoid.
      val root = new org.apache.hadoop.fs.Path(path)
      val f = fs
      val sig: Seq[(String, Long)] =
        if (!f.exists(root)) Nil
        else f.listStatus(root)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("__day="))
          .map(s => s.getPath.getName -> s.getModificationTime)
          .toSeq.sortBy(_._1)
      if (sig.isEmpty) None
      else {
        val key = (coldEpoch, -1L, -1, eraRecords.size)
        if (!coldCacheKey.contains(key) || flatColdSig != sig) {
          coldCacheFrame = Some(spark.read.parquet(path))
          coldCacheKey = Some(key)
          flatColdSig = sig
        }
        coldCacheFrame
      }
    }
  }

  /** The owning handle's [[TsStore.openSnapshot]] (live pinned cold
    * view + live tombstones): identical contract to the static
    * out-of-process reader, served from the cold plan cache and the
    * in-memory tombstone map (which the meta sidecar mirrors — every
    * drop persists it). */
  private[graft] def openLive(): Option[DataFrame] = synchronized {
    if (!snapshots) None
    else cold.map(c => tombFiltered(c).drop("__seq"))
  }

  /** M1/M3 `set`: stage rows into the hot tail (upsert semantics apply
    * at read/save time via the ingest sequence). The batch is persisted
    * and counted eagerly — reads must not recompute an arbitrary input
    * query, and the count feeds the flush threshold. Crossing either
    * bound triggers an automatic [[save]] (flush-on-threshold). */
  def set(rows: DataFrame): Long = synchronized {
    seq += 1
    val stamped0 = rows
      .withColumn("__day", dayCol)
      .withColumn("__seq", lit(seq))
    // ── driver-local fast path. Engine commands (`set`/`fset`/`kset`)
    // build each batch from driver-side JSON, so after constant
    // folding the whole batch optimizes to a materialized
    // LocalRelation: its rows already live in the plan, and the count
    // + null-day check below run on the driver — no Spark job, no
    // persist (there is nothing to recompute). The lifecycle drills
    // issue hundreds of these per query; a tiny count job per set was
    // measurably ~40% of their job COUNT (JobProf, round 19).
    // GATED on a structural walk of the UNANALYZED plan: running the
    // optimizer just to discover the batch is distributed would add
    // a full extra Catalyst pass to every streaming micro-batch set
    // (measured ~1.3-1.8x on the ingest drills when ungated).
    val total = (if (TsStore.localOnly(stamped0.queryExecution.logical))
        stamped0.queryExecution.optimizedPlan
      else stamped0.queryExecution.logical) match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val dayIdx = l.output.indexWhere(_.name == "__day")
        val nullDays = l.data.count(_.isNullAt(dayIdx))
        if (nullDays > 0) {
          seq -= 1
          throw new IllegalArgumentException(
            s"set: $nullDays row(s) have a null day/time index " +
              s"(store $path partitions by day; the main index must be non-null)")
        }
        hotRows += l.data.length
        // re-wrap the OPTIMIZED relation so downstream plans reuse the
        // evaluated rows instead of re-folding the parse expressions
        hotFrames :+= org.apache.spark.sql.graftbridge.DatasetBridge
          .ofRows(spark, l)
        hotDays = l.output(dayIdx).dataType match {
          case org.apache.spark.sql.types.StringType => hotDays.map(
            _ ++ l.data.iterator.map(_.getUTF8String(dayIdx).toString))
          case _ => None // day tracking needs save()'s cast-to-string form
        }
        l.data.length.toLong
      case _ =>
        val stamped = stamped0.persist(StorageLevel.MEMORY_AND_DISK)
        // one pass counts the batch AND rejects null days: `save`'s
        // dirty-day matching is `isin(days)`, which (SQL null semantics)
        // can never select a NULL partition — a null-day row staged here
        // would clobber the cold __HIVE_DEFAULT_PARTITION__ dir without
        // merging it. The time/day column is the store's primary index;
        // a null there is a malformed row, refuse it at the door.
        val Array(n, nonNullDays) = stamped
          .select(count(lit(1)), count(col("__day")))
          .head().toSeq.map(_.asInstanceOf[Long]).toArray
        if (n != nonNullDays) {
          stamped.unpersist()
          seq -= 1
          throw new IllegalArgumentException(
            s"set: ${n - nonNullDays} row(s) have a null day/time index " +
              s"(store $path partitions by day; the main index must be non-null)")
        }
        hotRows += n
        hotCached :+= stamped
        hotFrames :+= stamped
        hotDays = None // distributed batch: day set unknown without a job
        n
    }
    if (hotRows >= maxHotRows || hotFrames.size >= maxHotBatches) save()
    total
  }

  /** The read view: cold ∪ hot, solely-upsert resolved last-seq-wins.
    *
    * `where` narrows the view to the rows a caller can see. It may name
    * only the subject and `__day` columns, so it holds or fails for a
    * whole upsert key, and it is applied to both sides BEFORE the
    * merge:
    *  - on the cold side its `__day` terms become PartitionFilters, so
    *    the scan opens only the day partitions it admits;
    *  - on a store with cold data, when every staged batch is
    *    driver-local (the structural test `set` uses) and `where`
    *    leaves none of their rows, the hot side is skipped and the read
    *    is the plain cold scan: no window, no exchange. The optimizer
    *    folds the filtered tail on the driver to decide this, with no
    *    Spark job.
    * A tail holding a distributed batch, or a staged row `where`
    * admits, still resolves through the upsert; in the second case the
    * driver-side fold is paid on top of it. */
  def read(where: Option[org.apache.spark.sql.Column] = None): DataFrame =
      synchronized {
    val coldPart = cold.map(tombFiltered).map(c => where.fold(c)(keyFilter(c, _)))
    val hotPart = hotUnion.map(h => where.fold(h)(keyFilter(h, _)))
      .filterNot(h => where.nonEmpty && coldPart.nonEmpty && holdsNoRow(h))
    (coldPart, hotPart) match {
      case (Some(c), Some(h)) =>
        Write.upsert(c.drop("__seq"), h, subject, soleCols :+ "__day", time, "__seq")
      case (Some(c), None) => c.drop("__seq")
      case (None, Some(h)) =>
        Write.upsert(h.limit(0).drop("__seq"), h, subject,
          soleCols :+ "__day", time, "__seq")
      case (None, None) =>
        // created-but-never-written: the read view is an empty typed
        // DataFrame when the catalog schema is known (reference treats
        // no-data reads as benign), else still an error. An evolved
        // store serves the LATEST era's struct.
        liveReadSchema match {
          case Some(st) =>
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
          case None =>
            throw new IllegalStateException(s"empty store at $path")
        }
    }
  }

  /** `df` filtered by a read predicate, which must name only upsert-key
    * columns: pushed below the merge, a predicate on any other column
    * could hide a newer staged row and expose the cold row it replaces. */
  private def keyFilter(df: DataFrame,
      where: org.apache.spark.sql.Column): DataFrame = {
    val f = df.filter(where)
    val refs = f.queryExecution.analyzed match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        p.condition.references.toSeq.map(_.name)
      case _ => Nil
    }
    require(refs.forall(Set(subject, "__day")),
      s"read predicate may name only $subject and __day, got ${refs.distinct.mkString(", ")}")
    f
  }

  /** True when the filtered tail `h` provably holds no row: every staged
    * batch is driver-local and the optimizer folds `h` to an empty
    * LocalRelation. */
  private def holdsNoRow(h: DataFrame): Boolean =
    hotFrames.forall(f => TsStore.localOnly(f.queryExecution.logical)) &&
      (h.queryExecution.optimizedPlan match {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          l.data.isEmpty
        case _ => false
      })

  // resolved once: FileSystem.get consults Hadoop's global cache
  // under a lock on every call, and the commit path touches fs
  // dozens of times per commit
  private lazy val fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  /** Day-partition dirs under a root, as (escaped dir name → partition
    * value). Parquet %-escapes special chars in partition dir names;
    * day values here are dates/day-ints so the decode is a formality,
    * but comparing by DIR NAME (same escaping both sides) is what the
    * swap logic relies on. */
  private def dayDirs(root: org.apache.hadoop.fs.Path)
      : Seq[(String, String)] = {
    val f = fs
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__day="))
      .map { s =>
        val name = s.getPath.getName
        name -> java.net.URLDecoder.decode(name.stripPrefix("__day="), "UTF-8")
      }.toSeq.sortBy(_._1)
  }

  /** `save`: merge hot into the cold store and clear the tail —
    * incrementally. Only the day partitions the hot tail touches are
    * re-merged and swapped in (tmp write + per-day dir rename); a day
    * the tail never wrote is never read or rewritten. This is what
    * keeps `save` O(dirty days), not O(store) — at 100 TB the store
    * holds years of days and the tail touches one or two. */
  def save(): Unit = fenced {
    // fence FIRST (via [[fenced]]) — before any plan reads the
    // manifest: a first mutation acquires the lease, whose seal/adopt
    // pass may advance the live generation (rolling a crashed
    // predecessor's commit forward); the merge below must plan
    // against the post-adoption corpus or it would rebuild dirty
    // days from the superseded one
    hotUnion.foreach { h =>
      // day set tracked at set() time when exact (zero Spark jobs);
      // a distributed batch or a hot-tail filter falls back to compute
      val dirtyDays = hotDays.map(_.toSeq.sorted).getOrElse(
        h.select(col("__day").cast("string")).distinct()
          .collect().map(_.getString(0)).toSeq)
      val merged = cold match {
        case Some(c) =>
          Write.upsert(
            tombFiltered(c).filter(col("__day").isin(dirtyDays: _*))
              .drop("__seq"),
            h, subject, soleCols :+ "__day", time, "__seq")
        case None =>
          Write.upsert(h.limit(0).drop("__seq"), h, subject,
            soleCols :+ "__day", time, "__seq")
      }
      val tmp = stagingTmp("saving") // token-suffixed in snapshot mode
      // durable watermark BEFORE the tmp write — not merely before the
      // swap: the tmp becomes roll-forward-able the instant its job
      // commits _SUCCESS, so a crash in the gap would otherwise install
      // rows stamped with a sequence the restarted store never reloads
      // (and a later tombstone would rank below them). Persisting a
      // higher-than-used sequence is always safe — monotonicity is all
      // sequences need.
      persistMeta()
      // cold rows are stamped with the CURRENT ingest sequence: any
      // tombstone recorded before this save (strictly lower sequence)
      // cannot kill rows a later `set` legitimately re-created
      merged.withColumn("__seq", lit(seq))
        .repartition(col("__day"))
        .sortWithinPartitions(col(subject), col(time))
        .write.mode("overwrite").partitionBy("__day").parquet(tmp)
      val f = fs
      f.mkdirs(new org.apache.hadoop.fs.Path(path))
      // swap in the day dirs the write ACTUALLY produced (their names
      // carry parquet's partition-value escaping — never hand-build
      // them from the raw day strings), and fail loudly on a rename
      // that didn't happen rather than dropping the merged output
      val dayDirs = f.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("__day="))
      require(dayDirs.length == dirtyDays.length,
        s"save produced ${dayDirs.length} day dirs for ${dirtyDays.length} dirty days")
      if (snapshots) {
        // the commit manifest (day list) makes the tmp a complete,
        // idempotently-replayable commit instruction; written AFTER
        // the job's _SUCCESS, and recovery requires both
        TsStore.writeCommitDays(f,
          new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(tmp),
            TsStore.CommitManifest),
          dayDirs.map(_.getPath.getName).toSeq, loadSnapshot().v + 1)
        commitSavingSnapshot(new org.apache.hadoop.fs.Path(tmp))
      } else dayDirs.foreach { s =>
        val dest = new org.apache.hadoop.fs.Path(path, s.getPath.getName)
        f.delete(dest, true)
        if (!f.rename(s.getPath, dest))
          throw new java.io.IOException(s"could not commit day partition $dest")
      }
      f.delete(new org.apache.hadoop.fs.Path(tmp), true)
      invalidateCold()
      clearHot()
      onColdChange(TsStore.DaysUpserted(dirtyDays))
      maybeAutoVacuum()
    }
  }

  // ── staged commits (the multi-table atomic-commit primitive) ────
  //
  // [[save]] is write-tmp-then-commit in one call; an engine
  // committing N tables as ONE atomic point needs the two halves
  // apart: stage every table's commit DURABLY but INERTLY (live
  // manifest, hot tail, and readers untouched — and the store's own
  // open-time recovery ignores the staged tmp, so a crash before the
  // engine's marker rolls BACK, never half-forward), then finalize
  // each one (replayable from any crash point — finalize is exactly
  // the [[save]] commit over the staged instruction). The engine's
  // marker between the two halves is the commit point
  // ([[graft.api.Engine.saveAll]]).

  /** Staging-tmp path for `kind` (`saving`/`deleting`/`packed`/
    * `staged_save`). In snapshot mode the name carries the writer's
    * lease-token prefix, so two writers' staged bytes can NEVER share
    * a path — a takeover mid-stage used to clobber the old writer's
    * tmp in place (both wrote to the one fixed name), leaving its
    * in-flight commit instruction pointing at the new writer's
    * half-written job. With unique names the reservation protocol's
    * adoption identity ("same recorded tmp path = same instruction")
    * is exact. Acquires the lease on a first mutation (the token IS
    * the name). Flat mode keeps the fixed names — its recovery
    * markers predate the lease and stay byte-compatible. */
  private def stagingTmp(kind: String): String = {
    val base = path.stripSuffix("/") + "__" + kind
    if (!snapshots) base
    else {
      checkFence()
      base + "." + leaseToken.get.take(8)
    }
  }

  /** Every on-disk staging tmp of `kind`, any writer's: the fixed
    * legacy name plus every token-suffixed one. */
  private def stagingTmps(kind: String): Seq[org.apache.hadoop.fs.Path] = {
    val f = fs
    val p = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    val parent = p.getParent
    if (parent == null || !f.exists(parent)) return Seq.empty
    val pre = p.getName + "__" + kind
    f.listStatus(parent).toSeq
      .filter(s => s.isDirectory && {
        val n = s.getPath.getName
        n == pre || n.startsWith(pre + ".")
      })
      .map(_.getPath).sortBy(_.getName)
  }

  /** Stage the hot tail as a durable, inert commit instruction under
    * `__staged_save` — everything [[save]] does up to (and including)
    * the commit manifest, nothing after it. Returns false when there
    * is nothing hot to stage (finalize is then a no-op). Snapshot
    * mode only: without generations there is no inert staging point. */
  private[graft] def stageSave(): Boolean = fenced {
    require(snapshots, "staged commits are a snapshot-mode primitive")
    hotUnion match {
      case None =>
        // stale leftovers never linger — any writer's (a crashed
        // predecessor's token-suffixed tmp included: staging is
        // pre-marker by contract, so discarding is always a rollback
        // of something never acknowledged)
        stagingTmps("staged_save").foreach(fs.delete(_, true))
        false
      case Some(h) =>
        val stagedTmp = new org.apache.hadoop.fs.Path(
          stagingTmp("staged_save"))
        val dirtyDays = hotDays.map(_.toSeq.sorted).getOrElse(
          h.select(col("__day").cast("string")).distinct()
            .collect().map(_.getString(0)).toSeq)
        val merged = cold match {
          case Some(c) =>
            Write.upsert(
              tombFiltered(c).filter(col("__day").isin(dirtyDays: _*))
                .drop("__seq"),
              h, subject, soleCols :+ "__day", time, "__seq")
          case None =>
            Write.upsert(h.limit(0).drop("__seq"), h, subject,
              soleCols :+ "__day", time, "__seq")
        }
        persistMeta() // durable watermark BEFORE the tmp (save's rule)
        merged.withColumn("__seq", lit(seq))
          .repartition(col("__day"))
          .sortWithinPartitions(col(subject), col(time))
          .write.mode("overwrite").partitionBy("__day")
          .parquet(stagedTmp.toString)
        val f = fs
        f.mkdirs(new org.apache.hadoop.fs.Path(path))
        val dayDirs = f.listStatus(stagedTmp)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("__day="))
        require(dayDirs.length == dirtyDays.length,
          s"stage produced ${dayDirs.length} day dirs for " +
            s"${dirtyDays.length} dirty days")
        // the commit manifest completes the instruction — staged-tmp
        // completeness is exactly "manifest present" (written last)
        TsStore.writeCommitDays(f,
          new org.apache.hadoop.fs.Path(stagedTmp,
            TsStore.CommitManifest),
          dayDirs.map(_.getPath.getName).toSeq, loadSnapshot().v + 1)
        true
    }
  }

  private def completeStagedSaves: Seq[org.apache.hadoop.fs.Path] =
    stagingTmps("staged_save").filter(t =>
      fs.exists(new org.apache.hadoop.fs.Path(t, "_SUCCESS")) &&
        fs.exists(new org.apache.hadoop.fs.Path(t, TsStore.CommitManifest)))

  /** True when a staged-save tmp (this writer's token-suffixed one,
    * a crashed predecessor's, or the legacy fixed name) holds a
    * COMPLETE commit instruction (job `_SUCCESS` + commit manifest,
    * both written before the engine's marker can exist). */
  private[graft] def hasStagedSave: Boolean = completeStagedSaves.nonEmpty

  /** Turn every complete staged instruction into a real commit —
    * [[save]]'s second half over the staged tmp, idempotently
    * replayable from any crash point exactly like open-time `__saving`
    * recovery (placed days skip, the stored target generation pins the
    * version). A restarted engine finalizes its crashed predecessor's
    * token-suffixed tmp here the same way (ordered by target
    * generation when several pend). No-op when nothing (complete) is
    * staged. */
  private[graft] def finalizeStagedSave(): Unit = synchronized {
    val staged = completeStagedSaves
      .map { t => (t, TsStore.readCommitDays(fs,
        new org.apache.hadoop.fs.Path(t, TsStore.CommitManifest))) }
      .sortBy(_._2._2.getOrElse(Long.MaxValue))
    staged.foreach { case (t, (days, _)) =>
      commitSavingSnapshot(t)
      fs.delete(t, true)
      invalidateCold()
      clearHot()
      onColdChange(TsStore.DaysUpserted(days.map(n =>
        java.net.URLDecoder.decode(n.stripPrefix("__day="), "UTF-8"))))
    }
    if (staged.nonEmpty) maybeAutoVacuum()
  }

  /** Roll every staged-but-unmarked commit BACK (crash before the
    * engine's marker): the tmps vanish, nothing ever served them. */
  private[graft] def discardStagedSave(): Unit =
    stagingTmps("staged_save").foreach(fs.delete(_, true))

  /** M5 `del`: delete rows matching `cond`, rewriting ONLY the day
    * partitions `affectsDay` selects — O(days in range) exactly as
    * [[save]] is O(dirty days), never a whole-store rewrite (round 7's
    * one scale-killer; the reference likewise erases only the blocks a
    * delete lands in, sisdb_fmap_write.c:135-196). Hot batches are
    * anti-filtered in place (no forced flush); a day partition left
    * row-less by the delete is removed. A NULL predicate result keeps
    * the row (only a definite match deletes). */
  def deleteWhere(cond: org.apache.spark.sql.Column,
      affectsDay: String => Boolean): Unit = fenced {
    val defMatch = coalesce(cond, lit(false))
    // hotRows now overcounts the filtered tail — the flush bound fires
    // earlier than strictly needed, which is the safe direction
    hotFrames = hotFrames.map(_.filter(!defMatch))
    if (hotFrames.nonEmpty) hotDays = None // a filter can empty a day
    if (coldExists) {
      val f = fs
      val byName =
        if (snapshots) loadSnapshot().days.keys.toSeq.sorted.map(name =>
          name -> java.net.URLDecoder.decode(
            name.stripPrefix("__day="), "UTF-8"))
        else dayDirs(new org.apache.hadoop.fs.Path(path))
      val affected = byName.filter { case (_, v) => affectsDay(v) }
      if (affected.nonEmpty) {
        val affectedDays = affected.map(_._2)
        // the rewrite stamps cold rows with the CURRENT sequence —
        // persist the watermark BEFORE the tmp write, not merely before
        // the swap: once the tmp job commits its _SUCCESS (and the
        // manifest lands), recovery rolls it forward at restart, so the
        // rows' sequence must already be durable or a restarted store
        // reloads a lower watermark and a later tombstone ranks below
        // them. Persisting a higher-than-used sequence is always safe —
        // sequences only need monotonicity.
        persistMeta()
        val kept = tombFiltered(cold.get)
          .filter(col("__day").isin(affectedDays: _*))
          .filter(!defMatch)
          .withColumn("__seq", lit(seq))
        val tmp = stagingTmp("deleting") // token-suffixed in snapshot mode
        kept.repartition(col("__day"))
          .sortWithinPartitions(col(subject), col(time))
          .write.mode("overwrite").partitionBy("__day").parquet(tmp)
        val produced = dayDirs(new org.apache.hadoop.fs.Path(tmp)).toMap
        // the affected-day manifest is the commit point (written AFTER
        // the job's _SUCCESS — mode("overwrite") would wipe it first):
        // it records which days are REPLACED by a tmp dir and which the
        // delete EMPTIED, so the shared [[commitDeleting]] (and crash
        // recovery re-running it) can also remove produced-empty days
        // instead of silently committing half the delete
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        val mroot = m.createObjectNode()
        // snapshot replays must commit AT the version this run places
        // dirs under, never one re-derived from a possibly-bumped
        // manifest — see writeCommitDays
        if (snapshots) mroot.put("v", loadSnapshot().v + 1)
        val rep = mroot.putArray("replaced")
        val rem = mroot.putArray("removed")
        affected.foreach { case (name, _) =>
          if (produced.contains(name)) rep.add(name) else rem.add(name)
        }
        val mout = f.create(
          new org.apache.hadoop.fs.Path(tmp, TsStore.AffectedManifest), true)
        try mout.write(m.writeValueAsBytes(mroot)) finally mout.close()
        if (snapshots) commitDeletingSnapshot(new org.apache.hadoop.fs.Path(tmp))
        else commitDeleting(new org.apache.hadoop.fs.Path(tmp))
        f.delete(new org.apache.hadoop.fs.Path(tmp), true)
        invalidateCold()
        val removed = affected.collect {
          case (name, v) if !produced.contains(name) => v
        }
        onColdChange(TsStore.DaysReplaced(
          affected.collect { case (name, v) if produced.contains(name) => v },
          removed))
        maybeAutoVacuum()
      }
    }
  }

  /** M6 `drop`: tombstone the subject — an O(1) metadata write, no data
    * rewrite. Hot rows are filtered out immediately; cold rows stay on
    * disk but are dead to every read until [[pack]] erases them
    * physically (the reference's moved-block design, sisdb_io.c:297-306:
    * blocks marked moved, erased at save/pack). A later `set` of the
    * same subject re-creates it cleanly: its rows carry ingest
    * sequences above the tombstone's. */
  def dropSubject(key: String): Unit = synchronized {
    hotFrames = hotFrames.map(_.filter(col(subject) =!= lit(key)))
    if (hotFrames.nonEmpty) hotDays = None // a filter can empty a day
    seq += 1
    if (coldExists) {
      tombstones += key -> seq
      persistMeta()
      onColdChange(TsStore.Tombstoned)
    }
  }

  /** `pack`: compaction to a bounded file count per partition — and the
    * point where tombstoned rows are physically erased (the reference's
    * weekly pack drops moved blocks the same way, sisdb.c:586-602,
    * sisdb_fmap_write.c:135-146). O(store) by design. */
  def pack(targetFiles: Int): Unit = pack(targetFiles, None)

  /** [[pack]] with an optional Z-ORDER layout for the rewritten days:
    * `zorderBy = Some((dimA, dimB))` lays each day's rows out by the
    * Morton interleave of the two dims' bucket ranks (`targetFiles`
    * range partitions PER DAY instead of one hash partition), so
    * every file covers a compact rectangle of (dimA, dimB) space and
    * parquet footer min/max stats prune on BOTH dims — see
    * [[graft.ops.Layout]]. The natural pair for a series store is
    * (subject, time). Pack rewrites everything anyway (the
    * reference's weekly pack does too, sisdb.c:586-602), so the
    * better layout costs only the rank derivation: a bounded
    * sorted-distinct dictionary for string dims, two scalars for
    * numeric ones. Default `None` keeps the (subject, time)
    * sort-within-day layout (the O1 sorted-series contract). */
  def pack(targetFiles: Int, zorderBy: Option[(String, String)])
      : Unit = fenced {
    if (!coldExists) return // nothing flushed yet — benign, like save
    if (snapshots) {
      packSnapshot(targetFiles, zorderBy); maybeAutoVacuum(); return
    }
    if (tombstones.isEmpty && zorderBy.isEmpty) {
      Write.pack(spark, path, Seq("__day"), targetFiles)
      invalidateCold()
      onColdChange(TsStore.Compacted)
    } else cold.foreach { c =>
      flatRewriteSwap(tombFiltered(c).withColumn("__seq", lit(seq)),
        targetFiles, zorderBy)
      invalidateCold()
      tombstones = Map.empty
      persistMeta()
      // materializing tombstones may have removed whole days → full
      // partition re-list for any mirrored catalogs
      onColdChange(TsStore.Rewritten)
    }
  }

  /** Whole-store rename-aside rewrite shared by the flat pack branch
    * and the flat-mode schema migration ([[evolveSchema]]): write the
    * replacement under `__packed`, then swap it in. The live store is
    * never deleted before its replacement is committed; a crash at
    * ANY point leaves a marker state [[recoverSwaps]] finishes or
    * rolls back — the reference's safe-dir save (sisdb.h:184-189). */
  private def flatRewriteSwap(rows: DataFrame, targetFiles: Int,
      zorderBy: Option[(String, String)]): Unit = {
    val tmp = path.stripSuffix("/") + "__packed"
    packedLayout(rows, targetFiles, zorderBy)
      .write.mode("overwrite").partitionBy("__day").parquet(tmp)
    // durable watermark BEFORE the swap: a rewrite that stamped rows
    // with the current sequence must never restart into a lower
    // watermark (see deleteWhere)
    persistMeta()
    val f = fs
    val p = new org.apache.hadoop.fs.Path(path)
    val oldP = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__old")
    f.delete(oldP, true)
    if (!f.rename(p, oldP))
      throw new java.io.IOException(s"could not stage swap of $p")
    if (!f.rename(new org.apache.hadoop.fs.Path(tmp), p))
      throw new java.io.IOException(s"could not commit packed store $p")
    f.delete(oldP, true)
  }

  /** Evolve the table to a NEW schema version, preserving history —
    * the store face of the reference's version-tolerant convert
    * (sis_dynamic.h:12-51; the field-by-field bridge rule is
    * [[graft.ops.Convert.align]]'s). `from` must be the schema the
    * store currently writes (the latest recorded era, or the declared
    * schema of a never-evolved store); the caller (the engine)
    * guarantees the main index and solely fields are unchanged — the
    * store's keys, day partitioning and upsert identity do not move.
    *
    * SNAPSHOT mode is lazy: the hot tail is flushed (committing a
    * final old-era generation), then the new era is recorded with
    * `fromGeneration = live generation + 1` — one tiny sidecar write,
    * no data rewrite. Old-era day dirs stay on disk as written and
    * every read aligns them on the fly; time travel to a pre-evolve
    * generation serves the OLD schema exactly ([[TsStore
    * .openSnapshotAt]] aligns to the era live at that generation).
    *
    * FLAT mode migrates eagerly: one aligned whole-store rewrite
    * through the pack swap. Flat commits can't bind "these files
    * changed era" to a metadata record atomically (data dirs and
    * sidecars land in separate renames, and there is no manifest
    * generation to derive an era from), so keeping flat stores
    * single-era is the correct trade — the rewrite preserves each
    * row's `__seq` (tombstones keep ranking exactly as before) and
    * is crash-safe via [[recoverSwaps]]'s `__packed`/`__old`
    * protocol. A crash between the migration swap and the era-record
    * write is healed by re-running evolve before the next write
    * (align is idempotent on already-aligned rows).
    *
    * The era-record write (tmp + atomic rename, first-writer-wins) is
    * the commit point; [[latestEraSdb]] is how an owning engine
    * re-derives the live declaration after any crash. */
  def evolveSchema(from: graft.schema.SdbSchema.Sdb,
      to: graft.schema.SdbSchema.Sdb): Unit = fenced {
    eraRecords.lastOption.foreach { last =>
      require(last.sdb == from,
        s"evolveSchema: 'from' does not match the store's latest " +
          s"recorded era (${last.era}) — evolve from the live schema")
    }
    require(from != to, "evolveSchema: schemas are identical")
    // flush first: hot rows were typed under the old schema and must
    // land in old-era files (snapshot mode) or be part of the
    // migration input (flat mode)
    save()
    if (!snapshots && coldExists) cold.foreach { c =>
      // flat migration: align every row to the new schema, carrying
      // the system columns (incl. each row's own __seq) unchanged
      val system = c.columns.filter(cn =>
        !from.fields.exists(_.name == cn) && !to.fields.exists(_.name == cn))
      flatRewriteSwap(
        graft.ops.Convert.alignKeeping(c, from, to, system.toSeq),
        TsStore.MigrateTargetFiles, None)
      invalidateCold()
      onColdChange(TsStore.Rewritten)
    }
    val f = fs
    if (eraRecords.isEmpty)
      TsStore.writeEraRecord(f, path, TsStore.EraRecord(0, 0L, from))
    val nextEra = eraRecords.lastOption.map(_.era).getOrElse(0) + 1
    val fromGen = if (snapshots) loadSnapshot().v + 1 else 0L
    TsStore.writeEraRecord(f, path,
      TsStore.EraRecord(nextEra, fromGen, to))
    eraRecords = TsStore.readEras(f, path)
    liveReadSchema = Some(TsStore.withSystemCols(to))
  }

  /** Snapshot-mode pack: the full rewrite (compaction + tombstone
    * materialization) lands as one new manifest generation — pinned
    * readers keep the pre-pack versions until [[vacuum]]. Leftover
    * tombstones after a crash between the manifest commit and the
    * meta rewrite are harmless: they re-filter rows the pack already
    * removed (and the next pack clears them). */
  /** The pack rewrite's physical layout — shared by the flat and
    * snapshot commit halves. Default: one hash partition per day,
    * rows sorted (subject, time). Z-order: `targetFiles` range
    * partitions per day on the Morton code of the two dims' bucket
    * ranks (see [[pack]]'s zorderBy overload). */
  private def packedLayout(rows: DataFrame, targetFiles: Int,
      zorderBy: Option[(String, String)]): DataFrame = zorderBy match {
    case None =>
      rows.repartition(targetFiles, col("__day"))
        .sortWithinPartitions(col(subject), col(time))
    case Some((da, db)) =>
      val days = math.max(1L, rows.select("__day").distinct().count())
      val parts = (targetFiles.toLong * days).min(100000L).toInt
      packZRank(packZRank(rows, da, "__zra"), db, "__zrb")
        .withColumn("__z",
          graft.ops.Layout.morton2(col("__zra"), col("__zrb")))
        .drop("__zra", "__zrb")
        .repartitionByRange(parts, col("__day"), col("__z"))
        .sortWithinPartitions("__day", "__z")
        .drop("__z")
  }

  /** Bucket rank of `dim` in [0, 256) for the z-interleave: string
    * dims rank by sorted-distinct position (bounded dictionary,
    * broadcast-joined — subject cardinality is bounded by the same
    * contract that makes the catalog's dict stream viable); numeric
    * dims by uniform rank over their global [min, max] (two scalars).
    * NULL dim values rank 0 on both branches — the join is LEFT and
    * the rank coalesced, because an inner join would silently DELETE
    * null-dim rows from the rewritten store (pack must be
    * content-preserving no matter what layout it chooses). An empty
    * input (everything tombstoned) short-circuits to rank 0. */
  private def packZRank(rows: DataFrame, dim: String, as: String)
      : DataFrame = rows.schema(dim).dataType match {
    case org.apache.spark.sql.types.StringType =>
      val dict = graft.catalog.Catalog.dictionary(
        rows.filter(col(dim).isNotNull), dim, "__zdictid")
      val n = dict.count().toDouble
      rows.join(broadcast(dict), Seq(dim), "left")
        .withColumn(as, coalesce(
          graft.ops.Layout.uniformRank(col("__zdictid"),
            1.0, math.max(n, 2.0), 256), lit(0L)))
        .drop("__zdictid")
    case _ =>
      val mm = rows.agg(min(col(dim)).cast("double"),
        max(col(dim)).cast("double")).collect()(0)
      if (mm.isNullAt(0)) rows.withColumn(as, lit(0L))
      else rows.withColumn(as, coalesce(
        graft.ops.Layout.uniformRank(col(dim),
          mm.getDouble(0), mm.getDouble(1), 256), lit(0L)))
  }

  private def packSnapshot(targetFiles: Int,
      zorderBy: Option[(String, String)] = None): Unit = cold.foreach { c =>
    // durable watermark BEFORE the tmp write — the rewrite stamps rows
    // with the current sequence and the tmp becomes replayable the
    // moment its commit manifest lands (see save)
    persistMeta()
    val tmp = stagingTmp("packed") // token-suffixed (snapshot mode)
    packedLayout(tombFiltered(c).withColumn("__seq", lit(seq)),
        targetFiles, zorderBy)
      .write.mode("overwrite").partitionBy("__day").parquet(tmp)
    val f = fs
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    val produced = f.listStatus(tmpP)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__day="))
      .map(_.getPath.getName).toSeq
    TsStore.writeCommitDays(f,
      new org.apache.hadoop.fs.Path(tmpP, TsStore.CommitManifest), produced,
      loadSnapshot().v + 1)
    commitPackedSnapshot(tmpP)
    // every other generation-minting mutator invalidates here; without
    // it the pinnedCache can keep serving a cached None for exactly the
    // generation this pack mints (r19 advice)
    invalidateCold()
    f.delete(tmpP, true)
    tombstones = Map.empty
    persistMeta()
    onColdChange(TsStore.Rewritten)
  }
}

object TsStore {
  /** [[vacuum]] retention defaults — the single source the Engine
    * surface forwards, so the contract cannot drift between the two. */
  val DefaultKeepSuperseded = 1
  val DefaultRemovedDayGraceMs: Long = 24L * 3600 * 1000
  /** Time-travel retention default: 0 = no generation records survive
    * a vacuum (the pre-time-travel behavior); deployments wanting
    * reproducible as-of reads (e.g. pinning the exact training corpus
    * a run consumed) set it to their reproducibility horizon. */
  val DefaultKeepHistory = 0

  /** Scheduled-vacuum dials ([[TsStore!.autoVacuum]]): run [[vacuum]]
    * after every cold mutation whose committed generation is a
    * multiple of `everyGenerations`, with the same retention knobs a
    * manual vacuum takes (defaults = the shared contract above). */
  final case class AutoVacuum(everyGenerations: Int,
      keepSuperseded: Int = DefaultKeepSuperseded,
      removedDayGraceMs: Long = DefaultRemovedDayGraceMs,
      keepHistory: Int = DefaultKeepHistory,
      supersededGraceMs: Long = 0L,
      cutMaxAgeMs: Long = 0L)

  private[store] val HistFile = "^v=(\\d+)\\.json$".r

  /** Whether an UNANALYZED plan can only be rows that already live in
    * it: a LocalRelation under projections, filters and aliases. A
    * structural walk, so asking costs no optimizer pass. */
  private[store] def localOnly(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
        localOnly(pr.child)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        localOnly(f.child)
      case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        localOnly(s.child)
      case _ => false
    }

  /** Placed-at stamp file written inside every version dir by the
    * committer ([[TsStore!.placeVersions]]): the placement instant as
    * epoch-ms text. Underscore-prefixed so Spark's file listings hide
    * it. Exists because [[vacuum]]'s `supersededGraceMs` needs "time
    * since placement" and directory mtimes don't survive object
    * stores. */
  private[store] val PlacedStamp = "_placed"

  /** A version dir's placement instant: the committer's stamp when
    * present, the dir mtime otherwise (pre-stamp dirs, or a crash
    * between the placing rename and the stamp write — HDFS/posix
    * mtimes are correct there; object-store deployments re-commit
    * through the stamped path). */
  private[store] def placedAt(f: org.apache.hadoop.fs.FileSystem,
      verDir: org.apache.hadoop.fs.FileStatus): Long = {
    val stamp = new org.apache.hadoop.fs.Path(verDir.getPath, PlacedStamp)
    scala.util.Try(new String(readJsonBytes(f, stamp),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      .getOrElse(verDir.getModificationTime)
  }

  /** The ONE tombstone kill predicate — `subject` dropped at sequence
    * `g` kills rows with `__seq <= g`. Every read surface (the owning
    * store's tombDead, pinned snapshots, time-travel reads) builds its
    * filter here so the ranking rule cannot silently diverge between
    * them. */
  private[store] def tombstoneFilter(tombstones: Map[String, Long],
      subject: String): Option[org.apache.spark.sql.Column] =
    tombstones.map { case (s, g) =>
      col(subject) === lit(s) && col("__seq") <= lit(g)
    }.reduceOption(_ || _)

  /** The ONE manifest→frame read: the union of a day→version map's
    * version dirs, with `basePath` recovering `__day` as a partition
    * column (so day predicates prune exactly as in the flat layout)
    * and the internal `__v` dropped. */
  private[store] def readVersioned(spark: SparkSession, path: String,
      days: Map[String, Long]): DataFrame =
    spark.read.option("basePath", path)
      .parquet(days.toSeq.sortBy(_._1).map { case (d, v) =>
        s"${path.stripSuffix("/")}/$d/__v=$v" }: _*)
      .drop("__v")

  // ── schema-era records (see the instance-side `eraRecords` block):
  // `<path>__schemas/e=N.json` = {era, fromGeneration, dsl}, one per
  // schema version the store has ever written. Immutable once placed
  // (first-writer-wins, tmp + atomic rename — the writeHistory
  // protocol); the full set is tiny (one evolve each) and read once
  // per open / per static time-travel call.

  /** One recorded schema era: data committed at generations ≥
    * `fromGeneration` (and < the next record's) was written under
    * `sdb`. Era 0's record exists only once the store has evolved. */
  private[graft] final case class EraRecord(era: Int, fromGeneration: Long,
      sdb: graft.schema.SdbSchema.Sdb)

  /** Per-day file-count dial for the flat-mode migration rewrite —
    * the same default the engine's `pack` uses. */
  private[store] val MigrateTargetFiles = 4

  private val EraFile = "^e=(\\d+)\\.json$".r

  private def schemasDir(path: String) =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__schemas")

  private[graft] def readEras(f: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[EraRecord] = {
    val dir = schemasDir(path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .collect { case EraFile(e) => e.toInt }.toSeq.sorted
      .map { e =>
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(readJsonBytes(f,
            new org.apache.hadoop.fs.Path(dir, s"e=$e.json")))
        EraRecord(e, node.path("fromGeneration").asLong(0L),
          graft.schema.SdbSchema.parse(node.path("dsl").asText()))
      }
  }

  private[graft] def writeEraRecord(f: org.apache.hadoop.fs.FileSystem,
      path: String, rec: EraRecord): Unit = {
    val dir = schemasDir(path)
    f.mkdirs(dir)
    val dest = new org.apache.hadoop.fs.Path(dir, s"e=${rec.era}.json")
    if (f.exists(dest)) return // immutable: first writer wins
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("era", rec.era)
    root.put("fromGeneration", rec.fromGeneration)
    root.put("dsl", rec.sdb.toDsl)
    val tmp = new org.apache.hadoop.fs.Path(dir, s"e=${rec.era}.json.tmp")
    val out = f.create(tmp, true)
    try out.write(m.writeValueAsBytes(root)) finally out.close()
    if (!f.rename(tmp, dest)) f.delete(tmp, false) // lost the race: fine
  }

  /** The era a day-version dir `__v=v` was written under: the highest
    * recorded era whose `fromGeneration` is ≤ v (version dirs are
    * only ever created by the commit that advanced the manifest to
    * that generation, and evolve flushes before recording the next
    * era's boundary). 0 when the store never evolved. */
  private[graft] def eraOfGen(eras: Seq[EraRecord], v: Long): Int =
    eras.foldLeft(0)((acc, r) => if (r.fromGeneration <= v) r.era else acc)

  /** A declared schema's read-view struct: the sdb fields plus the
    * store's system columns in the engine's canonical order. */
  private[graft] def withSystemCols(sdb: graft.schema.SdbSchema.Sdb)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      sdb.structType.fields :+
        org.apache.spark.sql.types.StructField("subject",
          org.apache.spark.sql.types.StringType) :+
        org.apache.spark.sql.types.StructField("__day",
          org.apache.spark.sql.types.StringType))

  /** [[readVersioned]] across schema eras: group the (day → version)
    * map by each dir's writing era ([[eraOfGen]]), read every group
    * self-described (uniform parquet schema within a group — no
    * cross-type footer clash is possible), and align each non-target
    * group to `targetEra`'s declared schema under the reference's
    * never-cross-type rule ([[graft.ops.Convert.alignKeeping]] —
    * system columns `subject`/`__day`/`__seq` carry unchanged).
    * Column pruning and day pruning still fire per group (the align
    * is a projection Catalyst pushes into each scan). Single-era
    * stores (or calls without era records) take the plain
    * [[readVersioned]] path byte-identically. */
  private[store] def readVersionedAligned(spark: SparkSession, path: String,
      days: Map[String, Long], eras: Seq[EraRecord], targetEra: Int)
      : DataFrame = {
    val groups = days.groupBy { case (_, v) => eraOfGen(eras, v) }
    if (eras.size <= 1 || (groups.size == 1 && groups.contains(targetEra)))
      return readVersioned(spark, path, days)
    val byEra = eras.map(r => r.era -> r.sdb).toMap
    val to = byEra.getOrElse(targetEra, throw new IllegalStateException(
      s"$path: no schema record for era $targetEra — __schemas sidecar " +
        "is incomplete"))
    groups.toSeq.sortBy(_._1).map { case (e, groupDays) =>
      val df = readVersioned(spark, path, groupDays)
      if (e == targetEra) df
      else {
        val from = byEra.getOrElse(e, throw new IllegalStateException(
          s"$path: no schema record for era $e — __schemas sidecar is " +
            "incomplete"))
        val system = df.columns.filter(cn =>
          !from.fields.exists(_.name == cn) && !to.fields.exists(_.name == cn))
        graft.ops.Convert.alignKeeping(df, from, to, system.toSeq)
      }
    }.reduce(_.unionByName(_))
  }

  /** The delete tmp's commit-point manifest (see
    * [[TsStore.deleteWhere]] / swap recovery): which affected days the
    * tmp REPLACES and which the delete EMPTIED. */
  private[store] val AffectedManifest = "__affected.json"

  /** Snapshot mode: the save/pack tmp's day list — with it, the tmp is
    * a complete commit instruction replayable from any crash point. */
  private[store] val CommitManifest = "__commit.json"

  /** A committed snapshot: generation counter + (escaped day dir name
    * → version), plus the days REMOVED from the manifest with their
    * removal epoch-ms — the bookkeeping [[TsStore.vacuum]] needs to
    * reclaim a removed day's final version dirs after the reader
    * grace passes (a count-based keep can never reclaim them: no
    * later version ever supersedes a day that left the manifest).
    * Immutable; the manifest file swaps atomically. */
  private[store] final case class Snapshot(v: Long, days: Map[String, Long],
      removed: Map[String, Long] = Map.empty, sub: Int = 0)

  /** A committed manifest's position in the claim sequence:
    * generation `v` plus a same-generation bookkeeping counter `k`
    * (vacuum's removal-record retirement rewrites the manifest
    * without advancing the generation). Total order: readers resolve
    * the MAX slot; writers claim exactly one slot per commit. */
  /** Shared JSON mapper: ObjectMapper construction is not free and
    * the commit path serializes several sidecars per commit.
    * Jackson's read/write surface is thread-safe after config. */
  private[graft] val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  private[store] final case class SnapSlot(v: Long, k: Int)
      extends Ordered[SnapSlot] {
    def compare(o: SnapSlot): Int =
      if (v != o.v) java.lang.Long.compare(v, o.v) else k - o.k
    override def toString = s"$v.$k"
  }

  private[store] def slotFile(path: String, s: SnapSlot) =
    new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + s"__snapshot.${s.v}.${s.k}.json")

  private[store] def resvFile(path: String, v: Long) =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + s"__resv.$v.json")

  private[store] def floorFile(path: String) =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__snapfloor.json")

  /** One listing of the store root's PARENT dir → (committed manifest
    * slots, reserved-but-maybe-uncommitted generations). Manifest and
    * reservation files are SIBLINGS of the store root (like every
    * sidecar here), so the listing costs O(tables × sidecars) on an
    * engine root, never O(days). */
  private[store] def listSlotsAndResvs(f: org.apache.hadoop.fs.FileSystem,
      path: String): (Seq[SnapSlot], Seq[Long]) = {
    val p = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    val parent = p.getParent
    val leaf = p.getName
    if (parent == null || !f.exists(parent)) return (Seq.empty, Seq.empty)
    val names = f.listStatus(parent).map(_.getPath.getName)
    val mPre = leaf + "__snapshot."
    val slots = names.collect {
      // the legacy single-file manifest (`__snapshot.json`) and the
      // floor record share the prefix but carry no slot digits
      case n if n.startsWith(mPre) && n.endsWith(".json") &&
          n.length > mPre.length + 5 =>
        n.substring(mPre.length, n.length - 5).split("\\.")
    }.collect {
      case Array(v, k) if v.nonEmpty && v.forall(_.isDigit) &&
          k.nonEmpty && k.forall(_.isDigit) =>
        SnapSlot(v.toLong, k.toInt)
    }.toSeq.sorted
    val rPre = leaf + "__resv."
    val resvs = names.collect {
      case n if n.startsWith(rPre) && n.endsWith(".json") &&
          n.length > rPre.length + 5 =>
        n.substring(rPre.length, n.length - 5)
    }.collect {
      case v if v.nonEmpty && v.forall(_.isDigit) => v.toLong
    }.toSeq.sorted
    (slots, resvs)
  }

  /** The highest generation whose claim-slot NAMES have been freed by
    * GC — written BEFORE any freeing, so a claim that wins a freed
    * name (a claimant stalled across takeovers re-claiming a retired
    * slot) is detectable: any claim at `v <= floor` is a resurrection
    * and must not stand. 0 when GC never freed anything. */
  private[graft] def readFloor(f: org.apache.hadoop.fs.FileSystem,
      path: String): Long = {
    val p = floorFile(path)
    if (!f.exists(p)) 0L
    else scala.util.Try(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readJsonBytes(f, p)).path("v").asLong(0L)).getOrElse(0L)
  }

  /** Best-effort monotonic: the recorded value is max(old, new) and
    * the tmp name carries the writer token, so two racing GC passes
    * (a fenced writer's in-flight commit GC vs the new holder's)
    * cannot stomp each other's tmp bytes and the max() bounds the
    * regression one interleaving could otherwise leave (a smaller
    * floor would widen the resurrection window the post-claim
    * re-verify closes). The residual write-after-write reorder is
    * harmless under that re-verify: it reads the floor fresh AFTER
    * winning a claim. */
  private[store] def writeFloor(f: org.apache.hadoop.fs.FileSystem,
      path: String, v: Long, token: String = "anon"): Unit = {
    val prior = readFloor(f, path)
    val root = Json.createObjectNode()
    root.put("v", math.max(prior, v))
    val tmp = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + s"__snapfloor.json.tmp.$token")
    val out = f.create(tmp, true)
    try out.write(Json.writeValueAsBytes(root)) finally out.close()
    atomicReplace(f, tmp, floorFile(path))
  }

  /** True when the root carries ANY committed manifest — numbered
    * slot or the legacy single file. The open-time mode probe. */
  private[store] def anyManifest(f: org.apache.hadoop.fs.FileSystem,
      path: String): Boolean =
    f.exists(new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__snapshot.json")) ||
      listSlotsAndResvs(f, path)._1.nonEmpty

  /** Resolve the LIVE committed snapshot: the max numbered slot, with
    * the legacy single-file manifest as fallback while no numbered
    * commit exists. A slot that vanishes between list and read is the
    * one benign spelling (a concurrent committer's GC retired it — a
    * newer slot exists and a re-list finds it); sustained churn is
    * corruption and fails loudly. "Virgin root" is concluded only on
    * a second clean pass, because an absent legacy file may be a
    * migration that committed slot (v,0) in the instants since the
    * list. */
  private[store] def readLiveSnapshot(f: org.apache.hadoop.fs.FileSystem,
      path: String): Snapshot = {
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > 32) throw new IllegalStateException(
        s"$path: the snapshot manifest keeps shifting between list and " +
          "read — churn beyond any plausible concurrent-writer count")
      listSlotsAndResvs(f, path)._1.lastOption match {
        case Some(mx) =>
          // exists-then-read, both racing GC: either absence spelling
          // (exists false, or vanished between the probes) loops to a
          // fresh list — readSnapshot's absent-file "empty store"
          // default must never swallow a retired max slot
          val sf = slotFile(path, mx)
          if (f.exists(sf)) {
            try return readSnapshot(f, sf).copy(sub = mx.k)
            catch { case _: java.io.FileNotFoundException => }
          }
        case None =>
          val legacy = new org.apache.hadoop.fs.Path(
            path.stripSuffix("/") + "__snapshot.json")
          if (f.exists(legacy)) {
            try return readSnapshot(f, legacy)
            catch { case _: java.io.FileNotFoundException => }
          } else if (attempts >= 2) return Snapshot(0L, Map.empty)
      }
    }
    sys.error("unreachable")
  }

  private[graft] def readJsonBytes(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
      buf.toByteArray
    } finally in.close()
  }

  /** Replace `dest` with the already-written `tmp` in ONE rename —
    * every sidecar commit in the engine (manifests, leases, cursors,
    * markers, catalogs) funnels through here, because "atomic
    * replace" is filesystem-specific:
    *
    *  - HDFS and object-store FileContexts implement
    *    `Rename.OVERWRITE` as a single namespace op — used as-is;
    *  - the LOCAL FileContext (`file://`) delegates to
    *    `FileSystem.rename(Path,Path,Rename...)`, which is
    *    delete-then-rename — a crash between the two leaves NO file
    *    at `dest`, and for a cursor/manifest "absent" reads as
    *    "never initialized" (e.g. a bar root with no cursor passes
    *    `bootstrapRollup`'s guard and re-seeds slot 0 over live
    *    slots). Local roots therefore go through `java.nio`
    *    `ATOMIC_MOVE|REPLACE_EXISTING` — one `rename(2)`, which
    *    POSIX guarantees replaces atomically.
    *
    * LocalFileSystem is checksummed, so both files' `.crc` sidecars
    * are dropped first: a stale `dest` checksum surviving the move
    * would fail every later read of the NEW bytes. Dropping the crc
    * before the move is safe in every crash ordering — a checksum
    * sidecar is optional on read, so `dest` stays readable as either
    * the old or the new content, never unreadable and never absent. */
  private[graft] def atomicReplace(f: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      dest: org.apache.hadoop.fs.Path): Unit = {
    val q = f.makeQualified(dest)
    if ("file" == q.toUri.getScheme) {
      def crcOf(p: org.apache.hadoop.fs.Path): java.io.File = {
        val qp = f.makeQualified(p)
        new java.io.File(new java.io.File(qp.toUri.getPath).getParent,
          s".${qp.getName}.crc")
      }
      crcOf(tmp).delete()
      crcOf(dest).delete()
      java.nio.file.Files.move(
        java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath),
        java.nio.file.Paths.get(q.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else
      org.apache.hadoop.fs.FileContext.getFileContext(q.toUri, f.getConf)
        .rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Claim `dest` with the fully-written `tmp`'s content — atomically
    * and EXCLUSIVELY: exactly one of N concurrent claimants of the
    * same `dest` returns true; the rest return false with their tmp
    * cleaned up. This is the compare-and-swap primitive the engine
    * catalog's numbered generations build on ([[atomicReplace]] is
    * last-writer-wins and so can NEVER detect a lost race).
    *
    *  - `file://`: `java.nio` `createLink` — `link(2)` fails EEXIST
    *    atomically, and the linked content is the tmp's fully-written
    *    bytes, so no reader ever sees a partial dest;
    *  - elsewhere: Hadoop's plain `rename(src, dst)`, which HDFS
    *    implements as an atomic namespace op that refuses an existing
    *    dst (returns false / throws FileAlreadyExists). A false
    *    return is reported as a lost race ONLY when `dest` actually
    *    exists — rename also returns false for vanished sources or
    *    missing parents, and looping on those would masquerade a real
    *    I/O failure as an endless claim race.
    *
    * DEPLOYMENT REQUIREMENT (adjudicated): this primitive needs an
    * HDFS-CLASS filesystem — one whose rename is an atomic namespace
    * operation that refuses an existing destination (HDFS, posix
    * via the link(2) branch, Azure ABFS). Bare S3A/GCS connectors
    * implement rename as copy+delete with no exclusivity, so two
    * claimants could both "win" — running the claim protocol
    * directly on such a store is NOT supported. Object-store
    * deployments must either mount an HDFS-class layer over the
    * bucket (consistent rename semantics) or extend this method with
    * a conditional-put branch (S3 `If-None-Match:*` / GCS
    * `ifGenerationMatch=0` preconditions give the same
    * exactly-one-winner guarantee); the scheme dispatch below is the
    * seam where such a branch plugs in. */
  private[graft] def commitExclusive(f: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      dest: org.apache.hadoop.fs.Path): Boolean = {
    val q = f.makeQualified(dest)
    if ("file" == q.toUri.getScheme) {
      val t = java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath)
      // the local fs checksums the tmp; dest gets no sidecar (crc is
      // optional on read) and the tmp's is deleted with it
      new java.io.File(t.getParent.toFile, s".${t.getFileName}.crc")
        .delete()
      val won =
        try { java.nio.file.Files.createLink(
          java.nio.file.Paths.get(q.toUri.getPath), t); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      java.nio.file.Files.deleteIfExists(t)
      won
    } else {
      val won =
        try f.rename(tmp, dest)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        }
      if (!won) {
        if (!f.exists(dest)) throw new java.io.IOException(
          s"commitExclusive: rename $tmp -> $dest failed with NO file " +
            "at the destination — not a lost claim race (vanished " +
            "source or missing parent?); refusing to retry blind")
        f.delete(tmp, false)
      }
      won
    }
  }

  private[store] def readSnapshot(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Snapshot = {
    if (!f.exists(p)) return Snapshot(0L, Map.empty)
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readJsonBytes(f, p))
    import scala.jdk.CollectionConverters._
    Snapshot(node.path("v").asLong(0L),
      node.path("days").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap,
      node.path("removed").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap)
  }

  /** `targetV` rides inside the commit instruction so a crash-replay
    * commits AT the version the original run placed dirs under —
    * never one re-derived from a manifest the original run may
    * already have bumped. */
  private[store] def writeCommitDays(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, days: Seq[String],
      targetV: Long): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("v", targetV)
    val arr = root.putArray("days")
    days.sorted.foreach(arr.add)
    val out = f.create(p, true)
    try out.write(m.writeValueAsBytes(root)) finally out.close()
  }

  private[store] def readCommitDays(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): (Seq[String], Option[Long]) = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readJsonBytes(f, p))
    val days =
      (0 until node.path("days").size()).map(node.path("days").get(_).asText())
    (days, if (node.has("v")) Some(node.path("v").asLong()) else None)
  }

  private[store] def readAffected(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): (Seq[String], Seq[String], Option[Long]) = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readJsonBytes(f, p))
    def names(k: String): Seq[String] =
      (0 until node.path(k).size()).map(node.path(k).get(_).asText())
    (names("replaced"), names("removed"),
      if (node.has("v")) Some(node.path("v").asLong()) else None)
  }

  /** The OUT-OF-PROCESS reader for a snapshot-mode store: pin the
    * current manifest and return the cold view as of that instant —
    * every referenced dir is immutable, so the frame stays whole
    * through any number of concurrent saves/deletes/packs (until a
    * [[TsStore.vacuum]] whose grace the deployment sets longer than
    * this reader runs). None = store empty (or not in snapshot mode).
    * Hot (unflushed) rows are process-private by design — this is the
    * cold contract, same as any external engine reading the parquet. */
  def openSnapshot(spark: SparkSession, path: String): Option[DataFrame] = {
    val f = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val snap = readLiveSnapshot(f, path)
    if (snap.days.isEmpty) return None
    // tombstones are a (subject, sequence) predicate and the manifest
    // does not record the subject column name — this raw variant
    // returns all physical rows; use the `subject` overload to apply
    // live tombstones exactly as the owning store's reads do. An
    // evolved store's days are aligned to the LATEST era, exactly as
    // the owning store's own cold reads.
    val eras = readEras(f, path)
    Some(readVersionedAligned(spark, path, snap.days, eras,
      eras.lastOption.map(_.era).getOrElse(0)))
  }

  /** [[openSnapshot]] with the store's subject column, applying live
    * tombstones exactly as the owning store's reads do. The manifest
    * is pinned FIRST, the tombstone sidecar read second — the
    * serializable order: a tombstone recorded after the pin collapses
    * the view to the just-after-drop instant (it only ever kills rows
    * whose re-created successors carry higher sequences), whereas
    * reading the sidecar first could surface a state that existed at
    * no instant (a concurrently dropped subject visible in days the
    * drop's next flush rewrote, hidden in days it didn't). */
  def openSnapshot(spark: SparkSession, path: String, subject: String)
      : Option[DataFrame] = {
    openSnapshot(spark, path).map { df =>
      val f = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val meta = new org.apache.hadoop.fs.Path(
        path.stripSuffix("/") + "__meta.json")
      val tombstones: Map[String, Long] =
        if (!f.exists(meta)) Map.empty
        else {
          val node = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(readJsonBytes(f, meta))
          import scala.jdk.CollectionConverters._
          node.path("tombstones").properties().asScala
            .map(e => e.getKey -> e.getValue.asLong(0L)).toMap
        }
      tombstoneFilter(tombstones, subject)
        .fold(df)(dead => df.filter(!dead))
        // the ingest-sequence column is internal (needed above for the
        // tombstone rank only) — hide it exactly as read() and the SQL
        // view do, so a pinned frame is schema-compatible with every
        // other read surface (the raw overload keeps physical rows and
        // documents that)
        .drop("__seq")
    }
  }

  /** Time-travel read: the store EXACTLY as generation `v` committed
    * it — day→version map AND tombstones are both taken from the
    * generation record `__snaphist/v=N.json` (current tombstones do
    * NOT apply: a drop issued after generation `v` must not rewrite
    * history). None when the generation is unknown, its record was
    * vacuumed past the retention dial, or it committed an EMPTY
    * corpus (a delete emptied every day — the same None-means-no-data
    * contract as [[openSnapshot]]; there are no files to carry a
    * schema). Time travel degrades to "unavailable", never to a
    * silently different corpus. The files
    * behind a retained generation are pinned by `vacuum(…,
    * keepHistory)`; reading an unretained generation between its
    * record's deletion and its dirs' reclamation is prevented by
    * deleting the record FIRST (no record ⇒ no read). */
  def openSnapshotAt(spark: SparkSession, path: String, v: Long,
      subject: String): Option[DataFrame] = {
    val f = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    readHistRecord(f, path, v).flatMap { case (days, tombstones) =>
      if (days.isEmpty) None
      else {
        // time travel serves the schema that was LIVE at generation v
        // — a later evolve must not rewrite what a pinned reader saw
        // (the same no-history-rewrite contract as tombstones). Days
        // written under even older eras align forward to v's era.
        val eras = readEras(f, path)
        val df = readVersionedAligned(spark, path, days, eras,
          eraOfGen(eras, v))
        Some(tombstoneFilter(tombstones, subject)
          .fold(df)(dead => df.filter(!dead))
          .drop("__seq"))
      }
    }
  }

  /** A retained generation's commit record, raw: (escaped day dir →
    * version, tombstones at commit). None when the generation is
    * unknown or its record was vacuumed. The SQL time-travel surface
    * ([[graft.api.Engine.exposeSqlAt]]) pins catalog partitions from
    * exactly this map. */
  private[graft] def readHistRecord(f: org.apache.hadoop.fs.FileSystem,
      path: String, v: Long)
      : Option[(Map[String, Long], Map[String, Long])] = {
    val rec = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__snaphist", s"v=$v.json")
    if (!f.exists(rec)) return None
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readJsonBytes(f, rec))
    import scala.jdk.CollectionConverters._
    Some((node.path("days").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap,
      node.path("tombstones").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong(0L)).toMap))
  }

  /** What a cold rewrite did — the contract behind [[TsStore.onColdChange]]. */
  sealed trait ColdChange
  /** `save`: exactly these day partitions were created or rewritten in
    * place; no partition was removed. A catalog owner needs only
    * `ADD IF NOT EXISTS PARTITION` per day + a file-index refresh. */
  final case class DaysUpserted(days: Seq[String]) extends ColdChange
  /** `del`: exactly these day partitions were rewritten in place
    * (`replaced`) or removed because no rows survived (`removed`) — a
    * catalog owner needs targeted ADD/DROP PARTITION per day, never a
    * full re-list. */
  final case class DaysReplaced(replaced: Seq[String], removed: Seq[String])
      extends ColdChange
  /** `drop`: no file changed — a tombstone was recorded. Owners holding
    * a FILE-level mirror (the engine's SQL view) must refresh their
    * tombstone predicate from [[TsStore.tombstoneList]]. */
  case object Tombstoned extends ColdChange
  /** Wholesale rewrite (pack materializing tombstones): partitions may
    * have appeared or vanished — a full partition re-list is required. */
  case object Rewritten extends ColdChange
  /** `pack`: files rewritten inside existing partitions; the day set is
    * unchanged, only cached file listings are stale. */
  case object Compacted extends ColdChange
}
