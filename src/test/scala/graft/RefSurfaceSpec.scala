package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.functions.{GeoOps, Validation}
import graft.sources.SbReader
import graft.queries.Scratch

/** Unit coverage for the reference-surface building blocks (SURVEY
  * §2-A A1/A8/A15) beyond the query-level oracles: header parsing
  * corner cases, missing-value handling, rule severities, polygon
  * membership truth table.
  */
class RefSurfaceSpec extends SparkSpec {

  private val sbText =
    """/begin_header
      |/investigators=Jane_Doe
      |/cruise=endeavor_22
      |/fields=depth,chl,sal
      |/units=m,mg/m^3,psu
      |/delimiter=comma
      |/missing=-999
      |/north_latitude=41.000[DEG]
      |/south_latitude=40.000[DEG]
      |!comment line inside header
      |/end_header
      |5,0.42,35.1
      |10,-999,35.2
      |20,1.05,-999
      |""".stripMargin

  test("SeaBASS header + records parse (fields, missing, comments)") {
    val f = SbReader.parseFile("x.sb", sbText)
    assert(f.metadata("cruise") == "endeavor_22")
    assert(f.metadata("north_latitude") == "41.000[DEG]")
    assert(f.fields == Seq("depth", "chl", "sal"))
    assert(f.records.length == 3)
    assert(f.records(1)(1).isEmpty, "missing sentinel must parse as None")
    assert(f.records(0) == Seq(Some(5.0), Some(0.42), Some(35.1)))
  }

  test("SeaBASS space-delimited variant") {
    val f = SbReader.parseFile("y.sb",
      "/begin_header\n/fields=a,b\n/delimiter=space\n/end_header\n1 2\n3 4\n")
    assert(f.records == Seq(Seq(Some(1.0), Some(2.0)), Seq(Some(3.0), Some(4.0))))
  }

  test("readLong + readWide over a staged directory") {
    val dir = Paths.get(Scratch.dir("graft_sbspec_"))
    Files.writeString(dir.resolve("a.sb"), sbText)
    val long = SbReader.readLong(spark, s"$dir/*.sb")
    assert(long.count() == 9) // 3 records × 3 fields
    assert(long.filter(col("value_num").isNull).count() == 2) // the two -999s
    val wide = SbReader.readWide(spark, s"$dir/*.sb", Seq("depth", "chl", "sal"))
    assert(wide.count() == 3)
    assert(wide.filter(col("chl").isNull).count() == 1)
  }

  test("validation severities + overall rollup") {
    import Validation._
    import spark.implicits._
    val df = Seq((1L, 10.0), (2L, 999.0), (3L, 20.0)).toDF("id", "v")
    val report = validate(df, Seq(
      Required("id"),
      NumericRange("v", 0, 100, Warning)))
    val byRule = report.collect().map(r => r.getString(0) -> (r.getLong(2), r.getString(4))).toMap
    assert(byRule("required:id") == (0L, "OK"))
    assert(byRule("range:v[0.0,100.0]") == (1L, "WARNING"))
    assert(overallStatus(report) == "WARNING")
  }

  test("DatasetStore CRUD: init, append, upsert replaces keys, delete filters") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = Scratch.dir("graft_storespec_") + "/t"
    val store = new graft.sources.DatasetStore(spark, path, "id")
    store.init(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "v"))
    store.append(Seq((3L, "c", 30.0)).toDF("id", "name", "v"))
    assert(store.read().count() == 3)
    store.upsert(Seq((2L, "b2", 25.0), (4L, "d", 40.0)).toDF("id", "name", "v"))
    val afterUpsert = store.read().collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(afterUpsert(2L) == ("b2", 25.0), "existing key not replaced")
    assert(afterUpsert(4L) == ("d", 40.0), "new key not inserted")
    assert(afterUpsert.size == 4)
    store.delete(col("v") >= 30.0)
    assert(store.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("DatasetStore time travel: every commit is a readable snapshot; expire prunes") {
    import spark.implicits._
    val path = Scratch.dir("graft_storespec_") + "/tt"
    val store = new graft.sources.DatasetStore(spark, path, "id")
    store.init(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))      // v1
    store.append(Seq((3L, 30.0)).toDF("id", "v"))                 // v2
    store.upsert(Seq((2L, 25.0)).toDF("id", "v"))                 // v3
    assert(store.versions() == Seq(1L, 2L, 3L))
    assert(store.readAt(1).count() == 2)
    assert(store.readAt(2).count() == 3)
    // v2 still sees the pre-upsert value for key 2
    assert(store.readAt(2).filter(col("id") === 2L).collect()(0).getDouble(1) == 20.0)
    assert(store.read().filter(col("id") === 2L).collect()(0).getDouble(1) == 25.0)
    store.expireSnapshots(keep = 1)
    assert(store.versions() == Seq(3L))
    intercept[IllegalArgumentException](store.readAt(1))
    // CURRENT unaffected by expiry
    assert(store.read().count() == 3)
  }

  test("DatasetStore compact: one segment after, data identical, time travel crosses the boundary") {
    import spark.implicits._
    import graft.sources.DatasetStore
    val dir = Scratch.dir("graft_store_compact_")
    val store = new DatasetStore(spark, dir, "id")
    store.init(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))   // v1, seg 1
    store.append(Seq((3L, 30.0)).toDF("id", "v"))             // v2, seg 2
    assert(store.segmentCount == 2)
    val before = store.read().orderBy("id").collect().toSeq
    store.compact()                                            // v3, 1 seg
    assert(store.segmentCount == 1)
    assert(store.read().orderBy("id").collect().toSeq == before)
    // pre-compaction snapshots remain readable (old segments retained)
    assert(store.readAt(2).count() == 3)
    assert(store.readAt(1).count() == 2)
  }

  test("DatasetStore appendAtomic: 8 racing writers all land, versions are gapless, snapshots monotone") {
    import spark.implicits._
    val path = Scratch.dir("graft_storespec_") + "/cas"
    val store = new graft.sources.DatasetStore(spark, path, "id")
    store.init(Seq((0L, 0.0)).toDF("id", "v")) // v1
    val writers = (1 to 8).map { i =>
      new Thread(() => store.appendAtomic(Seq((i.toLong, i * 10.0)).toDF("id", "v")))
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    // every racing append committed exactly once — the head has all 9
    // ids; a lost update would drop one, a clobber would duplicate
    assert(store.read().collect().map(_.getLong(0)).sorted.toSeq == (0L to 8L))
    // version numbering is consecutive (every CAS claim targets
    // last+1); a writer that wins a manifest slot but loses the
    // head-pointer CAS leaves an ORPHANED manifest — a valid,
    // segment-retaining snapshot off main's lineage — so the log may
    // hold more than 9 versions, never fewer
    val vs = store.versions()
    assert(vs == (1L to vs.last), "version numbering must be gapless")
    assert(vs.last >= 9L, "8 appends need at least 8 post-init versions")
    // the head pointer resolves to the full 9-row snapshot and CURRENT
    // agrees with it
    assert(store.headVersion() <= vs.last)
    assert(store.readAt(store.headVersion()).count() == 9)
    // every snapshot (head-lineage or orphan) is internally consistent:
    // between 1 and 9 rows, no duplicated id
    vs.foreach { v =>
      val ids = store.readAt(v).collect().map(_.getLong(0)).toSeq
      assert(ids.size == ids.distinct.size, s"v$v duplicated an id")
      assert(ids.size >= 1 && ids.size <= 9)
    }
  }

  test("DatasetStore interleaved appendAtomic/appendBranch: main and branch lineages never graft") {
    import spark.implicits._
    val path = Scratch.dir("graft_storespec_") + "/ilv"
    val store = new graft.sources.DatasetStore(spark, path, "id")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).sorted.toSeq
    store.init(Seq((0L, 0.0)).toDF("id", "v"))              // v1, head=1
    store.createBranch("dev", 1L)
    store.appendBranch("dev", Seq((100L, 1.0)).toDF("id", "v")) // v2 = branch head
    // the regression this spec pins: appendAtomic must base on MAIN's
    // head (v1), not versions().last (v2, the branch head) — basing on
    // the log tail would graft the branch's row 100 into main
    store.appendAtomic(Seq((1L, 10.0)).toDF("id", "v"))
    assert(ids(store.read()) == Seq(0L, 1L), "main grafted the branch lineage")
    assert(ids(store.readBranch("dev")) == Seq(0L, 100L))
    // branch keeps its own lineage through further interleaving
    store.appendBranch("dev", Seq((101L, 2.0)).toDF("id", "v"))
    store.appendAtomic(Seq((2L, 20.0)).toDF("id", "v"))
    assert(ids(store.read()) == Seq(0L, 1L, 2L))
    assert(ids(store.readBranch("dev")) == Seq(0L, 100L, 101L))
    // publish: fastForward moves CURRENT *and* the main head, so the
    // next atomic append builds on the published branch snapshot
    store.fastForward("dev")
    assert(ids(store.read()) == Seq(0L, 100L, 101L))
    store.appendAtomic(Seq((3L, 30.0)).toDF("id", "v"))
    assert(ids(store.read()) == Seq(0L, 3L, 100L, 101L),
      "appendAtomic after fastForward must build on the published head")
    // expiry never drops a manifest a live ref (branch or main head)
    // points at
    store.expireSnapshots(keep = 1)
    assert(ids(store.readBranch("dev")) == Seq(0L, 100L, 101L),
      "expiry dropped a branch-referenced manifest")
    assert(ids(store.read()) == Seq(0L, 3L, 100L, 101L))
  }

  test("DatasetStore appendBranch: 8 racing writers across TWO store instances, no lost update") {
    // two instances share no in-process state — the only coordination
    // is the on-disk link(2) CAS chain, so this exercises exactly what
    // two separate JVMs would
    import spark.implicits._
    val path = Scratch.dir("graft_storespec_") + "/brcas"
    val s1 = new graft.sources.DatasetStore(spark, path, "id")
    val s2 = new graft.sources.DatasetStore(spark, path, "id")
    s1.init(Seq((0L, 0.0)).toDF("id", "v")) // v1
    s1.createBranch("dev", 1L)
    val writers = (1 to 8).map { i =>
      val st = if (i % 2 == 0) s1 else s2
      new Thread(() => st.appendBranch("dev", Seq((i.toLong, i * 10.0)).toDF("id", "v")))
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    // every racing branch append is on the branch head exactly once —
    // a lost update would drop an id; a clobbered pointer would
    // duplicate or regress
    assert(s1.readBranch("dev").collect().map(_.getLong(0)).sorted.toSeq == (0L to 8L),
      "branch head lost or duplicated an append")
    // the second instance resolves the identical head from disk alone
    assert(s2.branchVersion("dev") == s1.branchVersion("dev"))
    // CURRENT is untouched by branch-only writes
    assert(s1.read().collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  // A derived write (upsert, delete, compact) builds its segment from the
  // head it read; appends that commit while its Spark job runs must not
  // be lost when it commits, and its own effect must still hold.
  Seq("upsert", "delete", "compact").foreach { op =>
    test(s"DatasetStore $op racing 4 appendAtomic writers: no append lost, the $op holds") {
      import spark.implicits._
      val path = Scratch.dir("graft_storespec_") + s"/race_$op"
      val store = new graft.sources.DatasetStore(spark, path, "id")
      val init = (0L until 10L).map(k => (k, 0.0))
      store.init(init.toDF("id", "v"))
      val initSeg = Files.readString(Paths.get(path, "CURRENT")).trim
      val appended = for (w <- 1 to 4; i <- 0 until 6) yield (w * 100L + i, 1.0)
      val writers = (1 to 4).map { w =>
        new Thread(() => appended.filter(_._1 / 100 == w).foreach { row =>
          store.appendAtomic(Seq(row).toDF("id", "v"))
        })
      }
      writers.foreach(_.start())
      (1 to 3).foreach { r =>
        op match {
          case "upsert" => store.upsert(Seq((r.toLong, r * 10.0)).toDF("id", "v"))
          case "delete" => store.delete(col("id") === r + 5L)
          case "compact" => store.compact()
        }
      }
      writers.foreach(_.join())
      val rows = store.read().collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      appended.foreach { case (k, _) =>
        assert(rows.count(_._1 == k) == 1, s"appended row $k is not in read() exactly once")
      }
      val expectedInit = op match {
        case "upsert" => init.map { case (k, v) => if (k >= 1 && k <= 3) (k, k * 10.0) else (k, v) }
        case "delete" => init.filterNot { case (k, _) => k >= 6 && k <= 8 }
        case "compact" => init
      }
      assert(rows.sortBy(_._1) == (expectedInit ++ appended).sortBy(_._1), s"the $op's effect does not hold")
      if (op == "compact") {
        val head = Files.readAllLines(Paths.get(path, s"MANIFEST.v${store.headVersion()}"))
        assert(!head.contains(initSeg), "compact left the init segment in the head snapshot")
      }
    }
  }

  test("GraftCsvSink round-trips embedded newlines, quotes and commas") {
    import spark.implicits._
    val out = Scratch.dir("graft_csvsink_") + "/rt"
    val rows = Seq(
      (1L, "line one\nline two"),        // embedded newline — needs multiLine
      (2L, "say \"hi\" now"),            // embedded quote — needs escape="
      (3L, "a,b,c"),                      // embedded delimiter
      (4L, "plain"))
    val df = rows.toDF("id", "s")
    df.write.format(classOf[graft.sources.GraftCsvSink].getName)
      .option("path", out).mode("append").save()
    val back = graft.sources.GraftCsvSink.readBack(spark, out, df.schema)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back.size == 4, s"row count tore: ${back.size} rows came back")
    rows.foreach { case (id, s) => assert(back(id) == s, s"row $id mangled") }
  }

  test("point-in-polygon truth table (codegen + interpreted agree)") {
    import spark.implicits._
    val square = Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0))
    val pts = Seq(
      (1L, 5.0, 5.0, true),   // center
      (2L, 15.0, 5.0, false), // outside bbox
      (3L, 9.9, 9.9, true),   // near corner, inside
      (4L, -0.1, 5.0, false)) // just outside
    val df = pts.toDF("id", "lon", "lat", "expected")
    val got = df.withColumn("inside",
        GeoOps.inPolygon(col("lon"), col("lat"), square))
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    pts.foreach { case (id, _, _, exp) => assert(got(id) == exp, s"point $id") }
  }
}
