package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builder-side scale fixture generator: synthesizes sf{N×} data by
  * KEY-SHIFTED upsampling of an existing sf dir (the driver's generator
  * is not available in this container; /root/testdata is read-only).
  *
  * Each copy i shifts every entity key by i × (max_key + 1) within its
  * own key domain, so cross-table references stay consistent INSIDE a
  * copy and never collide ACROSS copies: join fan-outs, group
  * cardinalities per key, and hub degrees are copy-invariant, which is
  * what makes measured scaling exponents meaningful (a linear operator
  * should measure ~linear; a pairwise blowup would measure ~quadratic).
  * region/nation are fixed dimensions and copy through unchanged.
  *
  * Text payloads: by default they repeat verbatim across copies — fine
  * for timing most rows, but it makes every document a `copies`-way
  * exact near-duplicate, so PAIR-EMITTING text-dedup rows have a true
  * answer quadratic in the copy factor and could not be exponent-
  * measured on the fixture (r8 BASELINE caveat). `--noise-text` (v2)
  * fixes that DETERMINISTICALLY: copy i > 0 suffixes every token with
  * `~i`, which (a) keeps each copy's internal shingle/token structure
  * exactly isomorphic to the source corpus — per-copy pair sets, df
  * distributions and doc lengths (mod the suffix) are copy-invariant —
  * and (b) makes cross-copy shingle/token sets DISJOINT, so Jaccard =
  * containment = 0 and SimHash signatures decorrelate (P(hamming ≤ 3)
  * ≈ 2e-15) across copies: the true pair count scales exactly ×copies,
  * which is what a meaningful scaling exponent needs. n_chars is
  * recomputed to stay consistent with the transformed text.
  *
  * Embedding payloads stay verbatim even under --noise-text: in d=64
  * there is no copy-perturbation that preserves within-copy geometry
  * while keeping 10× the vectors below a 0.4-cosine threshold —
  * rotations/sign-flips make cross-copy dots ~N(0, 1/64), whose 0.4
  * tail over ~1e9 cross pairs yields millions of true pairs (the
  * threshold's own geometry, not an engine artifact). The
  * embedding-pair rows keep their real-data sf0.01→0.1 measurement.
  *
  * Usage: ScaleUp <srcSfDir> <dstDir> <copies> [--noise-text]
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleUp <srcSfDir> <dstDir> <copies> [--noise-text]")
    val Array(src, dst, copiesS) = args.take(3)
    val noiseText = args.length == 4 && args(3) == "--noise-text"
    val copies = copiesS.toInt
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"),
      shufflePartitions = Some("8"))

    // per-domain shift bases (max key + 1), read once from the source
    def maxOf(table: String, col0: String): Long =
      spark.read.parquet(s"$src/$table.parquet")
        .agg(max(col(col0))).head().getLong(0) + 1L

    val orderBase = maxOf("orders", "o_orderkey")
    val custBase  = maxOf("customer", "c_custkey")
    val suppBase  = maxOf("supplier", "s_suppkey")
    val partBase  = maxOf("part", "p_partkey")
    val eventBase = maxOf("events", "event_id")
    // documents and embeddings share ONE base: doc_id = vec_id is the
    // fixture's cross-modal alignment (multimodal_join and every
    // doc↔embedding row join on it), so shifting the two tables by
    // independent bases would misalign copy i's docs with copy j's
    // vectors and silently change join cardinality per copy
    val docVecBase = math.max(maxOf("documents", "doc_id"),
      maxOf("embeddings", "vec_id"))

    /** Union of `copies` key-shifted images of the table; `perCopy`
      * applies any additional per-copy transform (the text noise).
      */
    def up(table: String, shifts: Map[String, Long],
        perCopy: (DataFrame, Int) => DataFrame = (df, _) => df): DataFrame = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until copies).map { i =>
        perCopy(shifts.foldLeft(base) { case (df, (c, b)) =>
          df.withColumn(c, col(c) + lit(b * i))
        }, i)
      }.reduce(_ unionByName _)
    }

    /** Copy-i text noise: suffix every token with `~i` (copy 0 keeps
      * the source corpus verbatim). Deterministic; see the scaladoc.
      */
    def noiseDoc(df: DataFrame, i: Int): DataFrame =
      if (!noiseText || i == 0) df
      else df
        .withColumn("text", expr(
          s"array_join(transform(split(text, ' '), t -> concat(t, '~$i')), ' ')"))
        .withColumn("n_chars", length(col("text")).cast("long"))

    /** Write as ONE parquet FILE at $dst/<name>.parquet — the driver
      * testdata layout. The streaming replay stager (`Streaming
      * .stageDir`) `Files.copy`s that path as a file; a directory there
      * silently copies as an EMPTY dir and every staged stream replays
      * nothing (found the hard way: sf1 streaming rows measured
      * sentinel-only until this matched the testdata layout).
      */
    def write(df: DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(queries.Scratch.dir(s"graft_scaleup_$name"))
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      val part =
        try listing.filter(p => p.toString.endsWith(".parquet")).findFirst()
          .orElseThrow(() => new IllegalStateException(s"no part file written for $name"))
        finally listing.close()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
      java.nio.file.Files.move(part, java.nio.file.Paths.get(dst, s"$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      System.err.println(s"SCALEUP: $name done")
    }

    write(spark.read.parquet(s"$src/region.parquet"), "region")
    write(spark.read.parquet(s"$src/nation.parquet"), "nation")
    write(up("customer", Map("c_custkey" -> custBase)), "customer")
    write(up("supplier", Map("s_suppkey" -> suppBase)), "supplier")
    write(up("part", Map("p_partkey" -> partBase)), "part")
    write(up("orders", Map("o_orderkey" -> orderBase, "o_custkey" -> custBase)), "orders")
    write(up("lineitem", Map("l_orderkey" -> orderBase, "l_partkey" -> partBase,
      "l_suppkey" -> suppBase)), "lineitem")
    write(up("events", Map("event_id" -> eventBase, "user_id" -> custBase)), "events")
    write(up("documents", Map("doc_id" -> docVecBase), noiseDoc), "documents")
    write(up("embeddings", Map("vec_id" -> docVecBase)), "embeddings")
    spark.stop()
  }
}
