package graft

import org.apache.spark.sql.functions._
import graft.queries.Streaming

/** Streaming ≡ batch equivalence (SURVEY §5.3): the streaming results
  * must equal their batch formulations on the same input. Two of the
  * four streams run here (the other two are covered by the Verify
  * oracle harness; each stream costs ~10 s of wall time). The restart
  * tests run their scenario under Spark's default checkpoint file
  * manager and under the engine's fork-free one.
  */
class StreamingSpec extends SparkSpec {

  test("stream_dedup_watermark == batch aggregate despite double replay") {
    val streamed = Streaming.streamDedupWatermark(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("sum_value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
  }

  test("stream_tumbling_count flushes every window (sentinel watermark push)") {
    val streamed = Streaming.streamTumblingCount(spark, sf)
    val batchHours = Tables.events(spark, sf)
      .select(date_trunc("hour", col("ts")).as("h")).distinct().count()
    assert(streamed.count() == batchHours,
      "append-mode stream withheld windows — sentinel flush broken")
  }

  test("stream calls delete their scratch checkpoints once the replay has terminated") {
    import java.nio.file.{Files, Paths}
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def checkpoints(): Set[String] = {
      val ls = Files.list(tmp)
      try ls.map(_.getFileName.toString).filter(_.startsWith("graft_ckpt_"))
        .toArray.map(_.toString).toSet
      finally ls.close()
    }
    val before = checkpoints()
    (1 to 2).foreach(_ => Streaming.streamTumblingCount(spark, sf).collect())
    val leaked = checkpoints() -- before
    assert(leaked.isEmpty, s"stream_tumbling_count left checkpoints behind: $leaked")
  }

  test("a sentinel stage build leaves no graft_sent_ writer dir behind") {
    import java.nio.file.{Files, Paths}
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def sentinelDirs(): Set[String] = {
      val ls = Files.list(tmp)
      try ls.map(_.getFileName.toString).filter(_.startsWith("graft_sent_"))
        .toArray.map(_.toString).toSet
      finally ls.close()
    }
    val before = sentinelDirs()
    val dir = Paths.get(Streaming.stageDir(spark, sf, copies = 1, sentinels = true, cached = false))
    try {
      val staged = Files.list(dir)
      try assert(staged.filter(_.getFileName.toString.startsWith("sentinel-")).count() == 2)
      finally staged.close()
      val leaked = sentinelDirs() -- before
      assert(leaked.isEmpty, s"sentinel build left writer dirs behind: $leaked")
    } finally Streaming.deleteTree(dir)
  }

  test("checkpoint restart resumes exactly-once: new files only, no re-count") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import org.apache.spark.sql.streaming.Trigger
    underEachCheckpointManager { mgr =>
      // run 1 consumes file A into a foreachBatch-maintained total; the
      // process "restarts" (new query, SAME checkpoint) after file B
      // lands. The file-source offsets in the checkpoint must make run 2
      // process ONLY file B — the resume contract a production pipeline
      // relies on. Total must equal exactly one count of A + B.
      val dir = Files.createTempDirectory("graft_resume_").toString
      val ckpt = Files.createTempDirectory("graft_resume_ckpt_").toString
      val sch = Streaming.rawSchema(spark, sf)
      val total = new java.util.concurrent.atomic.AtomicLong(0)
      def copyIn(name: String, atMs: Long): Unit = {
        val dst = Paths.get(dir, name)
        Files.copy(Paths.get(s"$sf/events.parquet"), dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(atMs))
      }
      def runOnce(): Unit = {
        val q = spark.readStream.schema(sch).parquet(dir)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            total.addAndGet(batch.count()); ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val t0 = System.currentTimeMillis() - 60000
      copyIn("a.parquet", t0)
      runOnce()
      val afterA = total.get()
      copyIn("b.parquet", t0 + 5000)
      runOnce() // same checkpoint: must pick up ONLY b.parquet
      val batchOne = Tables.events(spark, sf).count()
      assert(afterA == batchOne, s"[$mgr] run 1 missed rows: $afterA vs $batchOne")
      assert(total.get() == 2 * batchOne,
        s"[$mgr] restart broke exactly-once: total=${total.get()}, expected ${2 * batchOne} " +
          "(less => file B missed; more => file A re-counted)")
    }
  }

  test("RocksDB provider: checkpoint restart restores stateful window counts exactly-once") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import org.apache.spark.sql.streaming.Trigger
    underEachCheckpointManager { mgr =>
      // The r8 verdict's task #6: the exactly-once restart contract must
      // hold under the RocksDB state store (stream_rocksdb_state's
      // provider), not just the default heap-backed one. Unlike the
      // stateless foreachBatch-count restart test above, this one is
      // STATEFUL: run 1 builds per-hour window counts from file A; run 2
      // (new query, SAME checkpoint) sees only file B (a second copy of
      // the same events — source offsets prove A is not re-read), so the
      // final counts can reach 2x the batch counts ONLY if the window
      // state was restored from the RocksDB checkpoint. 1x => state
      // lost; >2x => file A re-processed.
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      try {
        spark.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val dir = Files.createTempDirectory("graft_rocks_resume_").toString
        val ckpt = Files.createTempDirectory("graft_rocks_ckpt_").toString
        val sch = Streaming.rawSchema(spark, sf)
        val latest = new java.util.concurrent.ConcurrentHashMap[java.sql.Timestamp, Long]()
        def copyIn(name: String, atMs: Long): Unit = {
          val dst = Paths.get(dir, name)
          Files.copy(Paths.get(s"$sf/events.parquet"), dst, StandardCopyOption.REPLACE_EXISTING)
          Files.setLastModifiedTime(dst, FileTime.fromMillis(atMs))
        }
        def runOnce(): Unit = {
          val q = spark.readStream.schema(sch).parquet(dir)
            .groupBy(date_trunc("hour", col("ts")).as("h"))
            .agg(count(lit(1)).as("n"))
            .writeStream
            .outputMode("update")
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              batch.collect().foreach(r => latest.put(r.getTimestamp(0), r.getLong(1))); ()
            }
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        val t0 = System.currentTimeMillis() - 60000
        copyIn("a.parquet", t0)
        runOnce()
        val batch = Tables.events(spark, sf)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("n")).collect()
          .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
        assert(latest.size == batch.size && batch.forall { case (h, n) => latest.get(h) == n },
          s"[$mgr] run 1 window counts diverge from batch (${latest.size} vs ${batch.size} windows)")
        copyIn("b.parquet", t0 + 5000)
        runOnce() // same checkpoint: only file B, counts must DOUBLE via restored state
        assert(batch.forall { case (h, n) => latest.get(h) == 2 * n },
          s"[$mgr] RocksDB restart broke stateful exactly-once: expected exactly 2x per window " +
            s"(1x => state lost on restore; >2x => file A re-processed). " +
            s"sample=${latest.entrySet().iterator().next()}")
        // and the state actually lives in RocksDB-format checkpoints
        // (zip snapshots/changelogs), not the HDFS provider's .delta files
        val stateFiles = {
          def walk(f: java.io.File): Seq[java.io.File] =
            if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
            else Seq(f)
          walk(new java.io.File(ckpt, "state")).map(_.getName)
        }
        assert(stateFiles.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
          s"[$mgr] no RocksDB-format state files under the checkpoint: $stateFiles")
        assert(!stateFiles.exists(_.endsWith(".delta")),
          s"[$mgr] HDFS-provider .delta state files present — RocksDB provider was not in effect")
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("late data behind the watermark is dropped, not double-counted") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    // replay: data file -> far-future sentinels (watermark jumps past all
    // real event time) -> a LATE copy of the same data. The windowed agg
    // already emitted+evicted those windows, so every late row must be
    // dropped; counts equal the single-copy batch aggregate.
    // cached = false: this test mutates the dir (adds the late file),
    // which must not leak into the shared replay-dir cache; and the
    // batch-per-file cap is what makes "late" meaningful — the
    // watermark has to advance BETWEEN the sentinel and the late copy.
    val sch = Streaming.rawSchema(spark, sf)
    val dir = Streaming.stageDir(spark, sf, copies = 1, sentinels = true, cached = false)
    val late = Paths.get(dir, "zz-late.parquet")
    Files.copy(Paths.get(s"$sf/events.parquet"), late, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(late, FileTime.fromMillis(System.currentTimeMillis()))
    val maxNs = Streaming.maxTsNanos(spark, sf)
    val agg = Streaming.eventStream(spark, dir, sch, maxFilesPerTrigger = Some(1))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      // cutoff at +1 day past real data: sentinel windows (at +2d/+3d)
      // are harness artifacts, not part of the comparison
      .filter(col("window.start") < timestamp_micros(lit(maxNs / 1000 + 86400L * 1000000)))
    val streamed = Streaming.runToBatch(spark, agg, "append")
      .agg(sum(col("n"))).head().getLong(0)
    val batch = Tables.events(spark, sf).count()
    assert(streamed == batch,
      s"late replay changed totals: streamed=$streamed batch=$batch (doubled => late rows not dropped)")
  }
}
