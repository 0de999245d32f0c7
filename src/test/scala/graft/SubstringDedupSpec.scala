package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.queries.Scratch

/** Unit coverage for the hundredth wave beyond the query-level oracles:
  * planted-duplicate detection for the exact-substring miner, snapshot
  * semantics of the incremental release dedup, and the RocksDB state
  * store's result parity with the default provider.
  */
class SubstringDedupSpec extends SparkSpec {

  test("substring miner finds a planted cross-document span and ignores unique text") {
    import spark.implicits._
    val L = graft.queries.Extras100.SpanLen
    val S = graft.queries.Extras100.SpanStride
    // a shared region long enough for the aligned-window guarantee
    // (>= L + S - 1 chars, both docs at phase 0) + unique tails
    val shared = ("the quick brown fox jumps over the lazy dog again and " +
      "again until the passage is long enough to span windows").take(L + S)
    val docs = Seq(
      (1L, shared + " unique tail alpha " + "a" * 40),
      (2L, shared + " different tail beta " + "b" * 40),
      (3L, "entirely unrelated text " + "c" * 100)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")))
    val dir = Scratch.dir("graft_ssd_")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.Extras100.dedupSubstringExact(spark, dir).collect()
    assert(out.nonEmpty, "planted duplicate span not found")
    // every reported span involves >= 2 docs; doc 3 shares nothing
    out.foreach { r =>
      assert(r.getLong(1) >= 2)
      assert(r.getLong(3) != 3L, "unique doc reported as duplicated")
    }
    // the phase-0 guarantee: at least the first window of the shared
    // region is reported for both docs 1 and 2 (first_doc = 1)
    assert(out.exists(_.getLong(3) == 1L))
  }

  test("rolling-hash kernel matches brute-force window hashing on random strings") {
    // the O(1)-per-offset roll must equal recomputing each window's
    // polynomial from scratch — any drift silently splits hash buckets
    // and costs recall in the prefilter
    val rnd = new scala.util.Random(42)
    val B = 0x100000001b3L
    // brute over CODE POINTS, the unit SQL substr counts — the kernel
    // must match it even when the string contains supplementary
    // characters (2 UTF-16 units each)
    def brute(cps: Array[Int], w: Int): Seq[Long] =
      (0 to cps.length - w).map { k =>
        var h = 0L
        (k until k + w).foreach(i => h = h * B + cps(i))
        h
      }
    (0 until 200).foreach { t =>
      val n = 1 + rnd.nextInt(200)
      val w = 1 + rnd.nextInt(20)
      // every third string mixes in astral-plane code points (emoji
      // block) — the case a UTF-16-unit kernel mis-windows
      val s = (0 until n).map { _ =>
        if (t % 3 == 0 && rnd.nextInt(4) == 0)
          new String(Character.toChars(0x1F400 + rnd.nextInt(128)))
        else (32 + rnd.nextInt(95)).toChar.toString
      }.mkString
      val cps = s.codePoints().toArray
      val got = graft.functions.RollingHashKernel
        .compute(org.apache.spark.unsafe.types.UTF8String.fromString(s), w)
        .toLongArray().toSeq
      val want = if (cps.length >= w) brute(cps, w) else Seq.empty
      assert(got == want, s"rolling hash diverged for len=$n win=$w")
    }
  }

  test("rolling miner stays substr-aligned past supplementary characters") {
    import spark.implicits._
    val L = graft.queries.Extras100.SpanLen
    // doc 1's unique prefix contains emoji (1 code point = 2 UTF-16
    // units each): a UTF-16-unit kernel would report positions shifted
    // by the number of preceding astral chars, the md5 exact-verify
    // would extract the wrong span, and the planted duplicate would be
    // lost — this is the regression the code-point kernel fix closes
    val shared = ("aligned shared passage long enough to cover one full rolling " +
      "window at any character alignment whatsoever").take(L + 2)
    val docs = Seq(
      (1L, "🦊🐉x" + shared + " tail one"),
      (2L, "y" * 29 + shared + " other tail"),
      (3L, "entirely unrelated filler text " + "z" * 120)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")))
    val dir = Scratch.dir("graft_cp_")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rolling = graft.queries.Extras100.dedupSubstringRolling(spark, dir).collect()
    assert(rolling.nonEmpty, "duplicate behind an astral-char prefix not found")
    assert(rolling.forall(_.getLong(3) != 3L))
  }

  test("rolling miner finds every alignment: planted mid-text duplicate invisible to the stride miner") {
    import spark.implicits._
    val L = graft.queries.Extras100.SpanLen
    // the shared region sits at DIFFERENT, non-stride-aligned offsets
    // in the two docs (17 vs 41 chars of unique prefix), so no
    // stride-aligned window is common — the stride miner must miss it,
    // the every-offset roller must find it
    val shared = ("shared passage that is exactly long enough to cover one full " +
      "window of the rolling hash at any alignment").take(L + 2)
    val docs = Seq(
      (1L, "x" * 17 + shared + " tail one"),
      (2L, "y" * 41 + shared + " other tail"),
      (3L, "entirely unrelated filler text " + "z" * 120)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")))
    val dir = Scratch.dir("graft_roll_")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rolling = graft.queries.Extras100.dedupSubstringRolling(spark, dir).collect()
    assert(rolling.nonEmpty, "misaligned duplicate not found by the rolling miner")
    assert(rolling.forall(_.getLong(1) >= 2))
    assert(rolling.forall(_.getLong(3) != 3L))
    val stride = graft.queries.Extras100.dedupSubstringExact(spark, dir).collect()
    assert(stride.isEmpty,
      "fixture broken: the stride miner found the pair, so alignment was not adversarial")
  }

  test("every stride-aligned duplicate span is also reported by the rolling miner") {
    // stride windows are a subset of every-offset windows, so on the
    // SAME corpus the stride miner's span set must be contained in the
    // rolling miner's
    val strideSpans = graft.queries.Extras100.dedupSubstringExact(spark, sf)
      .select("span_md5").collect().map(_.getString(0)).toSet
    val rollingSpans = graft.queries.Extras100.dedupSubstringRolling(spark, sf)
      .select("span_md5").collect().map(_.getString(0)).toSet
    assert(strideSpans.subsetOf(rollingSpans),
      s"rolling miner missed ${(strideSpans -- rollingSpans).size} stride-found spans")
  }

  test("incremental release dedup reads two snapshots and never re-admits prior content") {
    val store = graft.queries.Extras100.releaseStore(spark, sf)
    assert(store.versions().take(2) == Seq(1L, 2L),
      "release store must retain both snapshots")
    val out = graft.queries.Extras100.dedupIncrementalRelease(spark, sf)
    val priorHashes = store.readAt(1)
      .select(md5(col("text")).as("h")).distinct()
      .collect().map(_.getString(0)).toSet
    val outRows = out.collect()
    outRows.foreach { r =>
      assert(!priorHashes.contains(r.getString(1)),
        s"doc ${r.getLong(0)} duplicates prior-release content but survived")
    }
    // deterministic across invocations (staging is cached + idempotent)
    assert(out.collect().toSeq == outRows.toSeq)
  }

  test("RocksDB state store produces byte-identical results to the default provider") {
    val default = graft.queries.Streaming.streamTumblingCount(spark, sf)
      .collect().map(_.toString).toSeq
    val rocks = graft.queries.Extras100.streamRocksdbState(spark, sf)
      .collect().map(_.toString).toSeq
    assert(rocks == default, "state-backend swap changed the result")
    // and the provider conf was restored after the query (getOption
    // surfaces the conf's built-in default, so assert on the value)
    assert(!spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDB"), "provider conf leaked out of the query")
  }
}
