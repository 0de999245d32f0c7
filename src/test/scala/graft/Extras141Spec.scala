package graft

import org.apache.spark.sql.functions._
import graft.queries.Scratch

/** Wave-41 properties: upsertBranch key-replacement semantics, brute
  * renko/OOV/position replays.
  */
class Extras141Spec extends SparkSpec {

  test("store_merge_branches: outcome census matches the key arithmetic; upsertBranch replaces keys") {
    import spark.implicits._
    // direct API contract first: upsertBranch must REPLACE same-key rows
    val base = Scratch.dir("graft_ubr_")
    val st = new graft.sources.DatasetStore(spark, s"$base/store", "k")
    st.init(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    st.createBranch("f", st.headVersion())
    st.upsertBranch("f", Seq((2L, "B2"), (3L, "c")).toDF("k", "v"))
    val br = st.readBranch("f").collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(br.toSeq == Seq((1L, "a"), (2L, "B2"), (3L, "c")),
      s"upsertBranch did not replace/insert correctly: ${br.toSeq}")
    // main untouched
    assert(st.read().count() == 2)

    val nByMod = Tables.orders(spark, sf).groupBy(expr("o_orderkey % 4")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val rows = queries.Extras141.storeMergeBranches(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows("conflict") == nByMod(0))
    assert(rows("from_theirs") == nByMod(1))
    assert(rows("unchanged") == nByMod(2))
    assert(rows("added_theirs") == nByMod(3))
  }

  test("win_renko_bricks: brute-force replay of levels, events, and runs") {
    val cs = Tables.lineitem(spark, sf)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("c"))
      .orderBy("day").collect().map(_.getLong(1))
    val (mn, mx) = (cs.min, cs.max)
    val sz = math.max((mx - mn) / 20, 1L)
    val lvl = cs.map(c => (c - mn) / sz)
    val ev = lvl.sliding(2).collect {
      case Array(p, c) if c != p => (if (c > p) "up" else "down", math.abs(c - p))
    }.toSeq
    val brute = ev.groupBy(_._1).map { case (dir, es) =>
      // longest run of consecutive same-direction events
      val dirs = ev.map(_._1)
      val runs = dirs.foldLeft(List.empty[(String, Int)]) {
        case ((d0, n0) :: t, dd) if d0 == dd => (d0, n0 + 1) :: t
        case (acc, dd) => (dd, 1) :: acc
      }
      (dir, (es.size.toLong, es.map(_._2).sum, runs.filter(_._1 == dir).map(_._2).max.toLong))
    }
    val got = queries.Extras141.winRenkoBricks(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == brute, s"renko diverges:\n$got\nvs\n$brute")
    assert(got.values.map(_._2).sum > 0, "no bricks — size rule degenerate")
  }

  test("text_vocab_oov_rate: set-arithmetic brute force agrees") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val vocab = docs.filter(_._1 % 10 < 8).flatMap(_._2).toSet
    val test = docs.filter(_._1 % 10 >= 8).flatMap(_._2)
    val oov = test.filterNot(vocab)
    val row = queries.Extras141.textVocabOovRate(spark, sf).collect().head
    assert(row.getLong(0) == vocab.size.toLong)
    assert(row.getLong(1) == test.length.toLong)
    assert(row.getLong(2) == oov.length.toLong)
    assert(row.getLong(4) == test.toSet.size.toLong)
    assert(row.getLong(5) == oov.toSet.size.toLong)
    assert(row.getDouble(3) >= 0 && row.getDouble(3) <= 1000000)
  }

  test("text_token_position_bias: brute-force replay for every reported token") {
    val docs = Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0).split(" ", -1).toSeq)
    val occ = docs.flatMap { toks =>
      val n = toks.length
      toks.zipWithIndex.map { case (t, p) =>
        (t, if (n > 1) p.toLong * 1000000 / (n - 1) else 500000L)
      }
    }
    val byTok = occ.groupBy(_._1)
    val rows = queries.Extras141.textTokenPositionBias(spark, sf).collect()
    assert(rows.length == 15)
    rows.foreach { r =>
      val ps = byTok(r.getString(0)).map(_._2)
      assert(r.getLong(1) == ps.length.toLong)
      assert(math.abs(r.getDouble(2) - ps.sum.toDouble / ps.length / 1e6) < 1e-5)
      assert(math.abs(r.getDouble(3) - ps.count(_ < 500000).toDouble / ps.length) < 1e-5)
    }
    // ranked by frequency with the deterministic tie-break
    val topBrute = byTok.toSeq.map { case (t, ps) => (t, ps.length) }
      .sortBy { case (t, n) => (-n, t) }.take(15).map(_._1)
    assert(rows.map(_.getString(0)).toSeq == topBrute)
  }
}
