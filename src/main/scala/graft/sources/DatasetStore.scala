package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Scratch

/** Keyed dataset store on plain Parquet — the reference's A2 CRUD
  * surface (SURVEY §2-A: UPSTREAM `ocdb/db/mongo_db_driver.py ::
  * add_dataset/update_dataset/delete_dataset`), re-expressed as
  * relational operations. No Delta/Iceberg jars exist in this
  * environment (SURVEY §7), so the store implements the minimal commit
  * protocol those formats provide: immutable segment directories plus
  * numbered manifests listing the live segments.
  *
  * ONE COMMIT PROTOCOL for every write (see [[commitOn]]): a write reads
  * its ref's head, claims the next `MANIFEST.vN` of the shared version
  * log, then claims the ref's next pointer generation — both claims are
  * POSIX `link(2)` ([[DatasetStore.claim]]), the ONE local-FS primitive
  * that is simultaneously atomic, exclusive (EEXIST if the name is
  * taken; it never replaces) and
  * content-complete (the link target is a fully-written temp file, so a
  * manifest either does not exist or is whole). NB `Files.move` without
  * REPLACE_EXISTING is NOT a CAS: the JDK implements it as an existence
  * check plus rename(2), which silently replaces — two racers can both
  * "win" and one commit is lost (observed in the 8-writer race spec
  * before the store moved to link(2)). A writer that loses either
  * claim re-reads the head and rebuilds, so concurrent writers — threads
  * or separate processes — never lose each other's commits. The one
  * single-writer caveat left is `vacuum(graceMs = 0)`.
  *
  * Snapshot isolation: data directories are never mutated after
  * commit; a reader resolves main's head once and reads only directories
  * its manifest names, so it sees exactly one committed snapshot. A
  * failed write leaves an orphan segment and the old head intact. At
  * 100 TB the same protocol holds with partition-scoped rewrites: upsert
  * rewrites only segments containing touched keys and the head moves
  * once.
  *
  * Crash recovery (proven by StoreCrashSpec with a SIGKILLed writer):
  * a writer killed at ANY point of the commit path leaves one of three
  * states, all absorbed without repair tooling — (1) a truncated
  * segment dir (kill mid-parquet-write), (2) a complete segment no
  * manifest references (kill between segment write and manifest claim),
  * (3) a claimed MANIFEST.vN that never became a head generation (kill
  * between the manifest claim and the pointer claim). Readers resolve
  * manifests → states 1–2 are invisible; head resolution is the monotone
  * pointer chain → state 3 is a readable-but-unreachable snapshot, never
  * a head. The next vacuum/prune reclaims 1–2 as orphans (grace-window
  * Iceberg-style retention); the next commit simply claims the next
  * version/generation. No fsync ordering is assumed beyond what
  * ATOMIC_MOVE + link(2) give on a POSIX filesystem.
  */
class DatasetStore(spark: SparkSession, path: String, keyCol: String) {
  import DatasetStore.{claim, readLines}

  private val root = new File(path)
  private val seq = new AtomicLong(0)
  private def currentFile = new File(root, "CURRENT")
  private def manifestFile(v: Long) = new File(root, s"MANIFEST.v$v")
  private val ManifestName = "MANIFEST\\.v(\\d+)".r

  /** Committed snapshot versions, ascending (1-based). */
  def versions(): Seq[Long] =
    Option(root.list()).getOrElse(Array.empty).collect {
      case ManifestName(v) => v.toLong
    }.sorted.toSeq

  /** Segment list of committed snapshot `v` (one name per line);
    * reading an expired or unknown version fails loudly.
    */
  private def readManifest(v: Long): Seq[String] = {
    require(manifestFile(v).exists, s"store at $path has no snapshot v$v")
    readLines(manifestFile(v))
  }

  /** Live segment dirs named by the CURRENT manifest. */
  private def segments(): Seq[String] = {
    require(currentFile.exists, s"store at $path not initialized")
    readLines(currentFile)
  }

  /** Segments of main's AUTHORITATIVE current snapshot: resolved
    * through the main-head pointer chain, not through the CURRENT file.
    * CURRENT is a best-effort cache for external tools: with concurrent
    * writers in SEPARATE PROCESSES, the last process to rewrite it can
    * be a stale winner (the per-path lock that orders the rewrite is
    * JVM-local), so a read that trusted CURRENT could transiently
    * regress past another process's commit. The head chain cannot
    * regress by construction (generations are claimed with an exclusive
    * link(2) and never rewritten) — proven across forked JVMs by
    * StoreMultiProcessSpec.
    */
  private def liveSegments(): Seq[String] = {
    val head = headVersion()
    if (head > 0 && manifestFile(head).exists) readManifest(head) else segments()
  }

  /** The one read body: the segments `segs` as one DataFrame, with
    * parquet schema merging across them when `merged`.
    */
  private def load(segs: Seq[String], merged: Boolean): DataFrame = {
    val reader = if (merged) spark.read.option("mergeSchema", "true") else spark.read
    reader.parquet(segs.map(s => new File(root, s).toString): _*)
  }

  def read(): DataFrame = load(liveSegments(), merged = false)

  /** Read with parquet schema merging across segments — the
    * schema-evolution path: segments written after a column was added
    * carry it, earlier segments surface it as NULL. Costs a footer
    * read per segment (why it is not the default read()).
    */
  def readMerged(): DataFrame = load(liveSegments(), merged = true)

  /** Time travel: read the store as of snapshot version `v` (from
    * [[versions]]). Possible because segments are immutable and every
    * commit's manifest is retained — the same mechanism behind
    * Delta/Iceberg `VERSION AS OF`. Reading an expired or unknown
    * version fails loudly.
    */
  def readAt(v: Long): DataFrame = load(readManifest(v), merged = false)

  /** [[readAt]] with parquet schema merging across the snapshot's
    * segments (see [[readMerged]]) — the change-feed path needs it so a
    * version whose segments straddle a schema evolution surfaces every
    * column.
    */
  private def readAtMerged(v: Long): DataFrame = load(readManifest(v), merged = true)

  /** Write one new immutable segment, return its manifest name. The
    * name must be unique across store INSTANCES and JVMs (concurrent
    * writers share the root): a random suffix plus errorifexists makes
    * a same-millisecond collision between two instances fail loudly
    * instead of silently overwriting the other writer's uncommitted
    * segment.
    */
  private def writeSegment(df: DataFrame): String = {
    val rand = java.util.UUID.randomUUID().toString.substring(0, 8)
    val name = s"seg_${System.currentTimeMillis()}_${seq.incrementAndGet()}_$rand"
    df.write.mode("errorifexists").parquet(new File(root, name).toString)
    name
  }

  // ----- named refs: CAS-versioned pointer chains
  //
  // A ref pointer (main head or branch) is a CAS-VERSIONED CHAIN of
  // immutable files `<prefix><K>` (content: the snapshot version the
  // ref points at), each created with the same `link(2)` claim as the
  // manifest log — atomic, exclusive, complete-on-arrival. The live
  // pointer is the highest generation K. Advancing the pointer is
  // therefore itself a CAS (claim generation K+1; EEXIST means another
  // writer advanced first — re-read and retry), which makes ref
  // writes safe across PROCESSES, not just threads: no REPLACE_EXISTING
  // move ever touches a pointer, so two writers can never both "win"
  // one generation. Generations are never deleted (tiny files), so the
  // chain is monotone and ABA-free. Main's own lineage uses the same
  // machinery under the `MAINHEAD.g` prefix — Iceberg models `main` as
  // just another ref for the same reason. A ref is named here by
  // `Option[String]`: None is main, Some(name) is branch `name`.

  private def prefixOf(ref: Option[String]): String =
    ref.fold("MAINHEAD.g")(name => s"BRANCH.$name.g")

  /** Highest committed pointer generation under `prefix`, if any. */
  private def latestGen(prefix: String): Option[Long] =
    Option(root.list()).getOrElse(Array.empty)
      .collect { case s if s.startsWith(prefix) => s.substring(prefix.length) }
      .filter(s => s.nonEmpty && s.forall(_.isDigit)).map(_.toLong)
      .maxOption

  private def genFile(prefix: String, gen: Long) =
    new File(root, s"$prefix$gen")

  /** Snapshot version pointer generation `gen` of `prefix` points at. */
  private def readPointer(prefix: String, gen: Long): Long =
    readLines(genFile(prefix, gen)).head.toLong

  /** The ref's latest pointer generation K and the version K points at.
    * Main without a generation (an empty store, or one written before
    * the pointer chain existed or by an external tool) falls back to
    * (0, highest committed version); a branch without one does not
    * exist.
    */
  private def refHead(ref: Option[String]): (Long, Long) = {
    val prefix = prefixOf(ref)
    (latestGen(prefix), ref) match {
      case (Some(gen), _) => (gen, readPointer(prefix, gen))
      case (None, None) => (0L, versions().lastOption.getOrElse(0L))
      case (None, Some(name)) => sys.error(s"store at $path has no branch $name")
    }
  }

  /** The one commit loop, for every write on main (`ref` None) or on a
    * branch:
    *  1. read the ref's head: pointer generation K → version `base`;
    *  2. claim `MANIFEST.v(last+1)` of the shared version log with
    *     `next(base)`'s segment list;
    *  3. claim pointer generation K+1 pointing at that version.
    * A lost claim at step 2 means another writer took the version
    * number; at step 3 that another writer on the same ref moved the
    * head since step 1, so our manifest was built from a STALE lineage
    * and must not become the head — it stays in the log as an orphaned
    * (but valid, segment-retaining) snapshot. Either way the loop
    * re-reads the head and calls `next` again, so a derived write
    * (upsert, delete, compact) rebuilds its segment from the fresh base
    * instead of dropping the winner's rows; the losing segment is an
    * orphan that prune's grace window reclaims. Basing on the REF's
    * head, not on `versions().last`, matters because the version log is
    * shared with other refs: the highest version may be a branch's head,
    * and basing on it would graft the branch's rows into main.
    * Monotonicity needs no explicit guard: a winning commit's version
    * exceeds every version in the log, including the base it read.
    *
    * A main commit then rewrites CURRENT ([[publish]]) and prunes;
    * CURRENT stays untouched by branch commits until [[fastForward]].
    */
  private def commitOn(ref: Option[String], maxRetries: Int = 50)(
      next: Long => Seq[String]): Unit = {
    root.mkdirs()
    var attempt = 0
    var committed = false
    while (!committed) {
      val (gen, base) = refHead(ref)
      val segs = next(base)
      val v = versions().lastOption.getOrElse(0L) + 1
      committed = claim(manifestFile(v), segs.mkString("\n")) &&
        claim(genFile(prefixOf(ref), gen + 1), v.toString)
      if (!committed) {
        attempt += 1
        require(attempt <= maxRetries,
          s"store at $path: CAS commit lost $maxRetries version races")
      }
    }
    if (ref.isEmpty) {
      publish()
      prune()
    }
  }

  /** Point the ref under `prefix` at `v` unconditionally: claim the
    * next generation, retrying past concurrent claimers. A move may
    * deliberately go backward (a branch reset) or sideways (a
    * fast-forward of main to a branch's version); it still claims a
    * fresh generation, so it serializes with concurrent commits
    * instead of clobbering them.
    */
  private def movePointer(prefix: String, v: Long): Unit =
    while (!claim(genFile(prefix, latestGen(prefix).getOrElse(0L) + 1), v.toString)) ()

  /** Rewrite CURRENT as a copy of main's head manifest — a BEST-EFFORT
    * CACHE for external tools ([[read]] resolves the head chain, see
    * [[liveSegments]]). Temp file plus ATOMIC_MOVE, under a per-path
    * JVM lock, re-resolving the head inside it, so threads of one JVM
    * never leave CURRENT behind the head; across OS processes the last
    * rewriter can still be stale.
    */
  private def publish(): Unit = DatasetStore.pathLock(path).synchronized {
    val tmp = new File(root, s"CURRENT.tmp.${java.util.UUID.randomUUID()}")
    Files.write(tmp.toPath, readManifest(headVersion()).mkString("\n").getBytes(UTF_8))
    Files.move(tmp.toPath, currentFile.toPath,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  private def referenced(): Set[String] =
    (versions().flatMap(v => readLines(manifestFile(v))) ++
      (if (currentFile.exists) segments() else Nil)).toSet

  /** Deletes every `seg_*` directory no retained manifest references.
    * Segments younger than a grace window are kept (Iceberg-style
    * orphan-file retention): a concurrent writer's segment that is
    * written but not yet committed looks orphaned, and the window keeps
    * it alive until its commit lands. Best-effort: a failed or raced
    * delete leaks space, but never fails a write that has already
    * committed.
    */
  private def prune(graceMs: Long = 600000L): Unit = {
    val live = referenced()
    val cutoff = System.currentTimeMillis() - graceMs
    Option(root.list()).getOrElse(Array.empty)
      .filter(_.startsWith("seg_")).filterNot(live)
      .filter(s => new File(root, s).lastModified() < cutoff)
      .foreach { s =>
        try Scratch.delete(new File(root, s).toString)
        catch { case NonFatal(_) => () }
      }
  }

  /** Snapshot versions a live named ref points at — the main-head
    * pointer plus every branch's LATEST pointer generation. Expiry must
    * never delete these manifests: a branch (or main's own lineage
    * base) pointing at an expired version would silently lose its
    * snapshot — `readBranch`/`appendAtomic` would fail and prune would
    * reclaim the segments behind a live ref. Iceberg's
    * `expire_snapshots` protects ref-reachable snapshots the same way.
    * Only the latest generation per ref protects: older generations are
    * superseded pointer history, not live refs (and manifests are
    * self-contained full segment lists, so no ancestor chain is
    * needed).
    */
  private def refProtectedVersions(): Set[Long] = {
    val main = prefixOf(None)
    (branchNames().map(branchVersion) ++ latestGen(main).map(readPointer(main, _))).toSet
  }

  /** Branch names with at least one committed pointer generation. */
  private def branchNames(): Seq[String] = {
    val Gen = "BRANCH\\.(.+)\\.g(\\d+)".r
    Option(root.list()).getOrElse(Array.empty)
      .collect { case Gen(name, _) => name }.distinct.toSeq
  }

  /** [[vacuum]] with the default orphan-retention window — the
    * storage/time-travel trade-off knob (Delta's VACUUM / Iceberg's
    * expire_snapshots).
    */
  def expireSnapshots(keep: Int): Unit = vacuum(keep)

  /** VACUUM: drop all but the newest `keep` manifests (never a
    * ref-protected one — see [[refProtectedVersions]]) and delete
    * every segment no retained manifest references, keeping segments
    * younger than `graceMs`. `graceMs = 0` reclaims immediately and is
    * the store's one single-writer operation (a concurrent writer's
    * uncommitted segment would look orphaned); production callers keep
    * the default grace.
    *
    * READER CONTRACT (proven by StoreMultiProcessSpec's pinned-reader
    * race): a reader that resolved `readAt(v)` while v was retained may
    * keep executing its scan for up to `graceMs` after a vacuum expires
    * v — the manifest disappears (a FRESH readAt(v) fails loudly) but
    * the snapshot's segment FILES are grace-retained, so in-flight
    * scans never lose files mid-read. Size `graceMs` above the longest
    * expected reader pin (Iceberg's orphan-file retention semantics);
    * `graceMs = 0` additionally requires no concurrent pinned readers.
    */
  def vacuum(keep: Int, graceMs: Long = 600000L): Unit = {
    val protectedVs = refProtectedVersions()
    versions().dropRight(keep).filterNot(protectedVs)
      .foreach(v => manifestFile(v).delete())
    prune(graceMs)
  }

  /** Segment directories physically present under the store root —
    * referenced or orphaned; the quantity VACUUM shrinks. */
  def segmentDirsOnDisk: Int =
    Option(root.list()).getOrElse(Array.empty).count(_.startsWith("seg_"))

  /** Whether a committed snapshot exists (CURRENT manifest present). */
  def isInitialized: Boolean = currentFile.exists

  /** Commit `df` as main's whole snapshot (replacing any earlier one). */
  def init(df: DataFrame): Unit = {
    val seg = writeSegment(df)
    commitOn(None)(_ => Seq(seg))
  }

  /** Append `df` as a new segment of main's head; on an empty store
    * the first append initializes it. The same commit as
    * [[appendAtomic]], so it is safe with concurrent writers.
    */
  def append(df: DataFrame): Unit = appendAtomic(df)

  /** Append = a new segment joins main's head snapshot; existing
    * segments are untouched (no rewrite, no mutation of a live
    * snapshot). Safe with concurrent writers (threads or processes,
    * see [[commitOn]]); appends commute, so a lost race only re-reads
    * the head. On an empty store the first append initializes it.
    */
  def appendAtomic(df: DataFrame, maxRetries: Int = 50): Unit = {
    val seg = writeSegment(df)
    commitOn(None, maxRetries)(base => (if (base == 0) Nil else readManifest(base)) :+ seg)
  }

  /** Main's rows at commit base `base`, the input of a derived write;
    * an empty store has nothing to derive from.
    */
  private def baseRows(base: Long): DataFrame = {
    require(base > 0, s"store at $path not initialized")
    readAt(base)
  }

  /** `current` with every row whose key is in `updates` replaced by
    * the update; new keys insert. A broadcast anti-join when updates
    * are small — the common CRUD case — then a union.
    */
  private def merge(current: DataFrame, updates: DataFrame): DataFrame =
    current.join(broadcast(updates.select(col(keyCol))), Seq(keyCol), "left_anti")
      .unionByName(updates)

  /** MERGE: rows in `updates` replace current rows with the same key;
    * new keys are inserted. The merged segment is DERIVED from the head
    * it read, so a commit that loses a race rebuilds it from the fresh
    * head (see [[commitOn]]) — concurrent appends are never dropped.
    */
  def upsert(updates: DataFrame): Unit =
    commitOn(None)(base => Seq(writeSegment(merge(baseRows(base), updates))))

  /** DELETE WHERE: keep rows where the predicate is false OR null —
    * SQL DELETE semantics (a NULL predicate does not delete the row;
    * a bare `!predicate` filter would silently drop it).
    */
  def delete(predicate: Column): Unit =
    commitOn(None)(base =>
      Seq(writeSegment(baseRows(base).filter(not(coalesce(predicate, lit(false)))))))

  /** Live segment count — the small-files health metric COMPACT fixes. */
  def segmentCount: Int = segments().size

  /** COMPACT (table maintenance, same mechanism as Delta OPTIMIZE /
    * Iceberg rewrite_data_files): rewrite every live segment into one
    * new immutable segment and commit — readers never see a partial
    * state (snapshot isolation holds through the rewrite), data is
    * byte-identical, and the old segments age out with their
    * manifests. At 100 TB this runs per partition/size-bucket rather
    * than whole-table; the commit protocol is the same.
    */
  def compact(): Unit = commitOn(None)(base => Seq(writeSegment(baseRows(base))))

  /** Snapshot version main currently ends at: the main-head pointer if
    * one exists, else the highest committed version (see [[refHead]]).
    * Public so callers can pin a release version for later [[readAt]] —
    * e.g. incremental dedup against a prior corpus release.
    */
  def headVersion(): Long = refHead(None)._2

  /** Create/reset branch `name` pointing at snapshot `fromVersion`.
    * A branch is a named pointer into the SAME immutable version log
    * main reads from — zero data copied (Iceberg/Delta branch
    * semantics; possible only because segments and manifests are
    * immutable). A reset may deliberately move the branch backward.
    */
  def createBranch(name: String, fromVersion: Long): Unit = {
    require(manifestFile(fromVersion).exists,
      s"store at $path has no snapshot v$fromVersion")
    movePointer(prefixOf(Some(name)), fromVersion)
  }

  def branchVersion(name: String): Long = refHead(Some(name))._2

  def readBranch(name: String): DataFrame = readAt(branchVersion(name))

  /** Append onto a BRANCH head: the new manifest still claims a number
    * in the shared version log (so main and branch writers never
    * collide on a version number), but only the branch pointer
    * advances — CURRENT is untouched until [[fastForward]].
    */
  def appendBranch(name: String, df: DataFrame, maxRetries: Int = 50): Unit = {
    val seg = writeSegment(df)
    commitOn(Some(name), maxRetries)(base => readManifest(base) :+ seg)
  }

  /** MERGE onto a BRANCH head — the branch-side [[upsert]] a
    * three-way branch-merge workflow needs: rows in `updates` replace
    * same-key rows in the branch snapshot, new keys insert. Like
    * [[upsert]], a lost race rebuilds the merged segment from the fresh
    * branch version — re-linking the stale segment would silently drop
    * the winner's rows.
    */
  def upsertBranch(name: String, updates: DataFrame, maxRetries: Int = 50): Unit =
    commitOn(Some(name), maxRetries)(base => Seq(writeSegment(merge(readAt(base), updates))))

  /** Fast-forward main to the branch head (publish the branch): moves
    * the main-head pointer, so main's lineage now ends at the branch's
    * version and later commits build on it — leaving the pointer
    * behind would make the next append silently undo the publish —
    * then rewrites CURRENT.
    */
  def fastForward(name: String): Unit = {
    movePointer(prefixOf(None), branchVersion(name))
    publish()
  }

  /** RESTORE: re-commit an earlier snapshot's manifest as a NEW
    * version (git-revert / Delta RESTORE semantics) — history is
    * never rewritten, the reverted-away versions stay inspectable,
    * and no data moves (segments are immutable and shared).
    */
  def rollback(v: Long): Unit = commitOn(None)(_ => readManifest(v))

  /** CHANGE DATA FEED between two snapshots (Delta CDF semantics,
    * derived rather than logged — possible because every snapshot
    * stays readable): a keyed full outer join of the two versions
    * classifies each key as insert (absent before), delete (absent
    * after) or update (present in both with any non-key column
    * changed). Cost is one join of two snapshots — the derived-CDF
    * trade-off versus Delta's per-commit change logging, which pays
    * at write time instead.
    */
  def changeFeed(vFrom: Long, vTo: Long): DataFrame = {
    val before = readAtMerged(vFrom)
    val after = readAtMerged(vTo)
    // column set = the UNION of both snapshots' schemas: the store
    // supports schema evolution (readMerged), so the two versions may
    // not share columns — a side missing a column contributes typed
    // NULLs, and a value appearing where there was no column before
    // classifies as an update
    val dtypes = (before.schema ++ after.schema).map(f => f.name -> f.dataType).toMap
    val dataCols = (before.columns ++ after.columns).distinct.filterNot(_ == keyCol).toSeq
    def side(df: DataFrame, p: String): DataFrame = {
      val full = dataCols.foldLeft(df) { (acc, c) =>
        if (acc.columns.contains(c)) acc else acc.withColumn(c, lit(null).cast(dtypes(c)))
      }
      full.columns.filter(dataCols.contains).foldLeft(full) { (acc, c) =>
        acc.withColumnRenamed(c, s"__${p}_$c")
      }.withColumn(s"__${p}_present", lit(true)) // presence marker survives the outer join
    }
    val b = side(before, "b")
    val a = side(after, "a")
    val joined = b.join(a, Seq(keyCol), "full_outer")
    val bPresent = col("__b_present").isNotNull
    val aPresent = col("__a_present").isNotNull
    // a key-only schema has no data columns: inserts/deletes still
    // classify, nothing can be an update
    val changed =
      if (dataCols.isEmpty) lit(false)
      else dataCols.map(c => not(col(s"__b_$c") <=> col(s"__a_$c"))).reduce(_ || _)
    joined
      .withColumn("change_type",
        when(!bPresent && aPresent, "insert")
          .when(bPresent && !aPresent, "delete")
          .when(changed, "update"))
      .filter(col("change_type").isNotNull)
      .select(col(keyCol) +: (dataCols.flatMap(c =>
        Seq(col(s"__b_$c").as(s"before_$c"), col(s"__a_$c").as(s"after_$c"))) :+
        col("change_type")): _*)
  }
}

object DatasetStore {
  /** Per-path monitor for CURRENT rewrites (JVM-local; see
    * [[DatasetStore.publish]] for the cross-JVM story).
    */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[sources] def pathLock(path: String): Object =
    locks.computeIfAbsent(path, _ => new Object)

  /** The one link(2) claim: create `dst` holding `content` unless a
    * file of that name exists; false if another writer claimed it
    * first. The content goes to a uniquely-named temp file first (a
    * UUID, so writers in other processes never share it), so `dst` is
    * whole on arrival.
    */
  private[sources] def claim(dst: File, content: String): Boolean = {
    val tmp = new File(dst.getParentFile, s"${dst.getName}.tmp.${java.util.UUID.randomUUID()}")
    Files.write(tmp.toPath, content.getBytes(UTF_8))
    try {
      Files.createLink(dst.toPath, tmp.toPath)
      true
    } catch {
      case _: FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp.toPath)
  }

  /** The non-blank lines of a manifest, pointer or CURRENT file,
    * trimmed: one segment or part name per line.
    */
  private[sources] def readLines(f: File): Seq[String] =
    new String(Files.readAllBytes(f.toPath), UTF_8)
      .split('\n').map(_.trim).filter(_.nonEmpty).toSeq
}
