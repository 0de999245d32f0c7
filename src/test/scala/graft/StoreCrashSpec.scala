package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._
import graft.queries.Scratch

/** SIGKILL crash-consistency test (r10 verdict task #4): a forked
  * writer JVM is killed -9 mid-commit, so the store root is left in
  * whatever byte-level state the kill produced — a truncated
  * parquet segment, a complete-but-unreferenced orphan segment (the
  * "between segment write and manifest link" window), or a manifest
  * that never became a head generation. The recovery contract under
  * test, documented at DatasetStore's class doc:
  *
  *  - committed snapshots survive EXACTLY (read() returns a dense
  *    prefix of the writer's appends, at least everything the child
  *    acknowledged before the kill);
  *  - partial work is INVISIBLE to readers (readers resolve manifests;
  *    orphaned segments are never scanned);
  *  - every retained manifest stays exactly readable (no truncated
  *    MANIFEST.vN — a manifest is a link(2) of a whole temp file);
  *  - the next vacuum RECLAIMS orphaned segment dirs (Iceberg-style
  *    orphan-file cleanup), leaving disk == referenced set;
  *  - the store stays writable after recovery.
  *
  * The kill lands at a random point of the commit path; to also pin
  * the narrow "segment written, manifest not linked" window
  * deterministically, the test additionally INJECTS that exact state
  * (a complete copied segment dir no manifest references) and asserts
  * invisibility + reclamation for it.
  */
class StoreCrashSpec extends SparkSpec {

  test("SIGKILL mid-commit: committed data exact, orphans invisible and vacuumed, store writable") {
    import spark.implicits._
    val base = Scratch.dir("graft_storecrash_")
    val dir = s"$base/store"
    val store = new graft.sources.DatasetStore(spark, dir, "k")
    store.init(Seq((0L, "init")).toDF("k", "payload"))

    // --- fork the crash writer, let it make progress, SIGKILL it
    val log = new File(base, "crash_child.log")
    val cmd = ChildJvm.command("graft.StoreCrashChild", Seq(dir))
    val p = new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true).redirectOutput(log).start()
    def acked(): Seq[Long] =
      if (log.exists)
        new String(Files.readAllBytes(log.toPath), UTF_8).linesIterator
          .filter(_.startsWith("commit ")).map(_.drop(7).trim.toLong).toSeq
      else Seq.empty
    val deadline = System.currentTimeMillis() + 240000
    while (acked().size < 6 && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(acked().size >= 6, "crash child made no progress before the deadline")
    p.destroyForcibly() // SIGKILL — no shutdown hooks, no flush
    assert(p.waitFor(30, TimeUnit.SECONDS), "SIGKILLed child did not exit")
    val lastAcked = acked().max

    // --- committed snapshots survive exactly: a dense 0..m prefix with
    // everything the child acknowledged, nothing duplicated or grafted
    val rows = store.read().select("k").collect().map(_.getLong(0)).sorted
    val m = rows.max
    assert(m >= lastAcked, s"acknowledged commit $lastAcked lost (head has $m)")
    assert(rows.toSeq == (0L to m), s"head not a dense prefix: ${rows.mkString(",")}")

    // --- every retained manifest parses and resolves (no truncated
    // MANIFEST.vN, no manifest naming a missing segment)
    store.versions().foreach { v =>
      assert(store.readAt(v).count() > 0, s"manifest v$v unreadable after crash")
    }

    // --- inject the deterministic "segment written, manifest not
    // linked" state: a complete segment dir with no manifest reference
    val segDirs = new File(dir).list().filter(_.startsWith("seg_"))
    val refd = new String(Files.readAllBytes(new File(dir, "CURRENT").toPath), UTF_8)
      .split('\n').map(_.trim).filter(_.nonEmpty).toSet
    val donor = new File(dir, refd.head)
    val orphan = new File(dir, "seg_0000000000000_0_deadbeef")
    def copyTree(src: File, dst: File): Unit = {
      if (src.isDirectory) { dst.mkdirs(); src.listFiles.foreach(f => copyTree(f, new File(dst, f.getName))) }
      else Files.copy(src.toPath, dst.toPath)
    }
    copyTree(donor, orphan)
    orphan.setLastModified(System.currentTimeMillis() - 10000)
    assert(store.read().select("k").collect().map(_.getLong(0)).sorted.toSeq == (0L to m),
      "orphan segment leaked into a reader's snapshot")

    // --- vacuum reclaims every orphan (the injected one and whatever
    // the kill left), leaving disk == the retained manifests' set
    Thread.sleep(50) // all orphan mtimes strictly below the grace cutoff
    store.vacuum(keep = 1, graceMs = 0)
    assert(!orphan.exists, "vacuum did not reclaim the injected orphan segment")
    val liveAfter = store.versions().flatMap { v =>
      new String(Files.readAllBytes(new File(dir, s"MANIFEST.v$v").toPath), UTF_8)
        .split('\n').map(_.trim).filter(_.nonEmpty)
    }.toSet ++ new String(Files.readAllBytes(new File(dir, "CURRENT").toPath), UTF_8)
      .split('\n').map(_.trim).filter(_.nonEmpty).toSet
    val diskAfter = new File(dir).list().filter(_.startsWith("seg_")).toSet
    assert(diskAfter == liveAfter,
      s"disk != referenced after vacuum: orphans=${diskAfter -- liveAfter}, missing=${liveAfter -- diskAfter}")
    assert(store.read().select("k").collect().map(_.getLong(0)).sorted.toSeq == (0L to m),
      "vacuum changed a committed snapshot")

    // --- recovery: the store is writable and the new commit lands
    store.append(Seq((m + 1, "post-crash")).toDF("k", "payload"))
    assert(store.read().select("k").collect().map(_.getLong(0)).sorted.toSeq == (0L to (m + 1)),
      "store not writable after crash recovery")
    info(s"child acknowledged $lastAcked commits; head had $m; " +
      s"${segDirs.length} seg dirs before vacuum, ${diskAfter.size} after")
  }
}
