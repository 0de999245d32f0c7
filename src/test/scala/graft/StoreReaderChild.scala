package graft

import java.nio.file.{Files, Paths}

/** Forked-JVM PINNED READER for [[StoreMultiProcessSpec]]'s GC race:
  * resolves `readAt(vOld)` ONCE (while the manifest is still
  * retained), signals readiness, then re-executes the pinned
  * DataFrame's scan in a loop while the parent concurrently
  * appends/compacts/vacuums the same store. The store's grace-window
  * contract says every iteration must return the pinned snapshot's
  * exact count — segment files a vacuum un-references are retained
  * for `graceMs`, so an in-flight reader holding a resolved snapshot
  * never loses files under its feet (Iceberg-style orphan retention).
  * Any wrong count or FileNotFoundException exits non-zero.
  */
object StoreReaderChild {
  def main(args: Array[String]): Unit = {
    val Array(storeDir, vS, millisS, readyPath) = args.take(4)
    val spark = GraftSession.local("2", "ERROR")
    val store = new graft.sources.DatasetStore(spark, storeDir, "k")
    // pin: one manifest resolution; the loop below never re-resolves
    val pinned = store.readAt(vS.toLong)
    val expect = pinned.count()
    Files.writeString(Paths.get(readyPath), expect.toString)
    val deadline = System.currentTimeMillis() + millisS.toLong
    var iters = 0
    while (System.currentTimeMillis() < deadline) {
      val c = pinned.count()
      if (c != expect) {
        System.err.println(s"pinned snapshot drifted: $c != $expect at iter $iters")
        sys.exit(2)
      }
      iters += 1
    }
    println(s"pinned reader: $iters green scans of $expect rows")
    spark.stop()
    sys.exit(0)
  }
}
