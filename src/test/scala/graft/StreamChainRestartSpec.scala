package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.TimestampNTZType
import graft.queries.Scratch

/** Long-chain streaming restart (r10 verdict task #5): exactly-once
  * output equality across a restart of the CASCADING two-stateful-
  * operator query (hourly window per user → daily rollup via
  * window_time, the stream_window_time_chain shape) under the RocksDB
  * state store.
  *
  * The single-operator RocksDB restart test (StreamingSpec) proves one
  * state store restores; this one proves the chain: the restart lands
  * while BOTH operators hold open state (hour cells not yet closed by
  * the watermark, day windows waiting on them), and run 2 must complete
  * those windows by MERGING restored state with new input — 1× per-day
  * counts means the restored state was lost, duplicates mean input was
  * re-read, a missing cutoff-day row means the chain didn't resume.
  *
  * Input is the real events file split into thirds by event time:
  * run 1 streams thirds A1+A2 (two files, maxFilesPerTrigger=1, so the
  * watermark advances between them and run 1 emits SOME closed windows
  * already — proving the restart doesn't re-emit them); run 2 (new
  * query, SAME checkpoint) streams the final third + two far-future
  * sentinels that push the watermark past every real window.
  *
  * The scenario runs twice, under Spark's default checkpoint file
  * manager and under the engine's fork-free one.
  */
class StreamChainRestartSpec extends SparkSpec {

  test("two-stateful-operator chain restart: union of appends == batch oracle, each day exactly once") {
    underEachCheckpointManager { mgr =>
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProvider = spark.conf.getOption(providerKey)
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set(providerKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        spark.conf.set("spark.sql.shuffle.partitions", "4")

        val sch = queries.Streaming.rawSchema(spark, sf)
        val events = Tables.events(spark, sf)
        val Array(t1, t2) = events
          .select(expr("approx_percentile(unix_micros(CAST(ts AS TIMESTAMP)), array(0.33, 0.66), 10000)"))
          .head().getSeq[Long](0).toArray
        val maxNs = events
          .agg(max(unix_micros(col("ts").cast("timestamp")))).head().getLong(0) * 1000L

        // --- stage: thirds as single parquet files with increasing mtimes
        val dir = Paths.get(Scratch.dir("graft_chainrestart_"))
        val t0 = System.currentTimeMillis() - 120000
        var fseq = 0
        def stage(df: DataFrame, name: String): Unit = {
          val tmp = Paths.get(Scratch.dir("graft_chainpart_"))
          df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = Files.list(tmp).filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          val dst = dir.resolve(name)
          Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
          Files.setLastModifiedTime(dst, FileTime.fromMillis(t0 + fseq * 1000)); fseq += 1
        }
        val micros = unix_micros(col("ts").cast("timestamp"))
        stage(events.filter(micros <= t1), "a1.parquet")
        stage(events.filter(micros > t1 && micros <= t2), "a2.parquet")

        val ckpt = Scratch.dir("graft_chainrestart_ckpt_")
        val emitted = collection.mutable.ArrayBuffer[(java.sql.Timestamp, Long, Long, Int)]()
        def runOnce(run: Int): Unit = {
          val hourly = queries.Streaming.eventStream(spark, dir.toString, sch, maxFilesPerTrigger = Some(1))
            .withWatermark("ets", "1 hour")
            .groupBy(window(col("ets"), "1 hour"), col("user_id"))
            .agg(count(lit(1)).as("n_hour"))
          val daily = hourly
            .groupBy(window(window_time(col("window")), "1 day"))
            .agg(sum(col("n_hour")).as("n_events"),
              count(lit(1)).as("n_hour_user_cells"))
            .select(col("window.start").cast(TimestampNTZType).cast("timestamp").as("day_start"),
              col("n_events"), col("n_hour_user_cells"))
          val q = daily.writeStream
            .outputMode("append")
            .foreachBatch { (batch: DataFrame, _: Long) =>
              val rows = batch.collect()
              emitted.synchronized {
                rows.foreach(r => emitted += ((r.getTimestamp(0), r.getLong(1), r.getLong(2), run)))
              }
              ()
            }
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }

        runOnce(1)
        val run1Days = emitted.map(_._1).toSet
        // restart: final third + watermark-pushing sentinels, same checkpoint
        stage(events.filter(micros > t2), "b.parquet")
        Seq(maxNs + 2L * 86400 * 1000000000L, maxNs + 3L * 86400 * 1000000000L)
          .zipWithIndex.foreach { case (ns, i) =>
            val row = org.apache.spark.sql.Row(
              -1000L - i, queries.Streaming.ntzFromNanos(ns), -1L - i, "sentinel", 0.0, "{}")
            stage(spark.createDataFrame(java.util.List.of(row), sch), s"sentinel-$i.parquet")
          }
        runOnce(2)

        // --- oracle: the same pyramid as one batch query over all events
        val oracle = events
          .groupBy(date_trunc("hour", col("ts")).as("h"), col("user_id"))
          .agg(count(lit(1)).as("n_hour"))
          .groupBy(date_trunc("day", col("h")).as("day_start"))
          .agg(sum("n_hour").as("n_events"), count(lit(1)).as("n_hour_user_cells"))
          .collect().map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getLong(2)))).toMap

        val realCutoff = new java.sql.Timestamp(maxNs / 1000000L + 86400L * 1000L)
        val got = emitted.filter(_._1.before(realCutoff))
        // exactly once: no day appears twice across the restart
        val dups = got.groupBy(_._1).filter(_._2.size > 1).keys
        assert(dups.isEmpty, s"[$mgr] day windows emitted more than once across restart: $dups")
        // union == oracle, values exact
        val gotMap = got.map(e => e._1 -> ((e._2, e._3))).toMap
        assert(gotMap.keySet == oracle.keySet,
          s"[$mgr] missing=${oracle.keySet -- gotMap.keySet}, extra=${gotMap.keySet -- oracle.keySet}")
        oracle.foreach { case (d, v) => assert(gotMap(d) == v, s"[$mgr] day $d: got ${gotMap(d)}, want $v") }
        // the restart really spanned open state: run 1 emitted some days
        // (watermark advanced between a1 and a2), and the t2-cutoff day —
        // whose events straddle the restart — was completed in run 2
        assert(run1Days.nonEmpty, s"[$mgr] run 1 emitted nothing; restart did not span open state")
        val cutoffDay = got.map(_._1).filter { d =>
          val dayStartMicros = d.getTime * 1000L
          t2 >= dayStartMicros && t2 < dayStartMicros + 86400L * 1000000L
        }.headOption
        cutoffDay.foreach { d =>
          val run = got.find(_._1 == d).get._4
          assert(run == 2, s"[$mgr] cutoff day $d emitted before its tail arrived")
        }
        assert(cutoffDay.nonEmpty, s"[$mgr] no day straddles the restart cutoff — split produced no spanning day")
        info(s"[$mgr] run1 emitted ${run1Days.size} days, run2 ${got.size - run1Days.size}; " +
          s"cutoff day ${cutoffDay.get} completed after restart")
      } finally {
        prevProvider match {
          case Some(v) => spark.conf.set(providerKey, v)
          case None => spark.conf.unset(providerKey)
        }
        spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      }
    }
  }
}
