package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic fixture scale-up: replicate the driver-generated tables
  * `copies`× with per-copy key offsets, preserving every FK relationship
  * (copy i's orders reference copy i's customers, etc.), so the full
  * Verify/Bench drive can run at 10× the largest driver SF and exercise
  * the paths the small fixtures never reach (driver-gate overflows,
  * shuffle spill, AQE decisions on real sizes).
  *
  * Usage: runMain graft.GenData <srcSfDir> <outDir> <copies>
  *
  * Scaling choices (all deterministic — no RNG, no clock):
  *  - dims (region, nation) are copied through, like TPC-H's fixed dims;
  *  - fact/bridge tables get `id + copy * rowCount(src)` key offsets
  *    (driver keys are 0-based contiguous, FIXTURES.md), so copies are
  *    disjoint id ranges and joins scale linearly;
  *  - `documents` copies > 0 suffix EVERY token with `x<copy>`: each copy
  *    is an independent corpus (disjoint shingles), so dedup/LSH output
  *    scales ~linearly instead of exploding quadratically in a 90%-dup
  *    corpus — the shape a deduped production corpus actually has;
  *  - `embeddings` copies > 0 draw fresh uniform vectors from
  *    xxhash64(vec_id, dim) — distinct values, so top-k has no cross-copy
  *    exact ties and both engines rank identically;
  *  - `events.ts` is written as a µs timestamp (Spark cannot write the
  *    driver's ns physical type); [[graft.sources.Tables.events]] detects
  *    the layout and normalizes both to the same `ts_us`.
  */
object GenData {
  def main(args: Array[String]): Unit = {
    val (srcDir, outDir, copiesStr) = (args(0), args(1), args(2))
    val copies = copiesStr.toInt
    // optional 4th arg: comma-separated table subset (e.g.
    // "documents,embeddings" for a doc/vector-axis-only scale probe —
    // r13's sf100 dedup/ANN band) — empty = all tables
    val only: Set[String] = args.lift(3).map(_.split(",").toSet).getOrElse(Set.empty)
    val spark = GraftSession.builder(GraftSession.envCpus("32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Before ANY events read (including the row-count): the driver fixture
    // carries a ns timestamp Spark 4 refuses without the legacy flag.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def src(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")
    def write(name: String, df: DataFrame, files: Int): Unit =
      if (only.isEmpty || only(name))
        df.repartition(files).write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // Dims: fixed, like TPC-H.
    write("region", src("region"), 1)
    write("nation", src("nation"), 1)

    /** One row per (source row, copy), with `cpy` available to the
      * column transforms. Row counts are the offset units: driver keys
      * are 0-based contiguous (FIXTURES.md), so `key + cpy*n` keeps every
      * copy in a disjoint range while staying FK-consistent within it.
      */
    def replicate(df: DataFrame): DataFrame =
      df.withColumn("cpy", explode(expr(s"sequence(0L, ${copies - 1}L)")))
    def off(key: String, n: Long) = (col(key) + col("cpy") * lit(n)).as(key)

    val nCust = src("customer").count()
    val nSupp = src("supplier").count()
    val nPart = src("part").count()
    val nOrd = src("orders").count()
    val nEv = src("events").count()
    val nDoc = src("documents").count()
    val nVec = src("embeddings").count()
    // user_id is its own (denser) domain, not the customer key space.
    val nUser = src("events").agg(max(col("user_id"))).head().getLong(0) + 1

    write("customer", replicate(src("customer")).select(
      off("c_custkey", nCust), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment")), 2 * copies / 5 + 1)

    write("supplier", replicate(src("supplier")).select(
      off("s_suppkey", nSupp), col("s_name"), col("s_nationkey"), col("s_acctbal")), 1)

    write("part", replicate(src("part")).select(
      off("p_partkey", nPart), col("p_name"), col("p_brand"), col("p_type"),
      col("p_size"), col("p_retailprice")), 2 * copies / 5 + 1)

    write("orders", replicate(src("orders")).select(
      off("o_orderkey", nOrd), off("o_custkey", nCust), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")), copies)

    write("lineitem", replicate(src("lineitem")).select(
      off("l_orderkey", nOrd), off("l_partkey", nPart), off("l_suppkey", nSupp),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"), col("l_linestatus"),
      col("l_shipdate")), 2 * copies)

    // events: same 30-day window, `copies`× the users — horizontal growth,
    // the same axis the driver uses between its own SFs.
    // ts layout-aware like Tables.events: driver ns-as-long fixtures are
    // truncated to µs; µs timestamp fixtures (TZ or NTZ) pass through.
    val tsOut = src("events").schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => timestamp_micros(expr("ts DIV 1000")).as("ts")
      // only the two µs-timestamp layouts pass through; anything else is a
      // malformed fixture and must fail HERE, not in a downstream reader
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => col("ts")
      case other =>
        throw new IllegalArgumentException(
          s"events.ts has unsupported type $other (expected ns-as-LONG, TIMESTAMP, or TIMESTAMP_NTZ)")
    }
    write("events", replicate(src("events")).select(
      off("event_id", nEv),
      tsOut,
      off("user_id", nUser), col("event_type"), col("value"), col("props")), copies)

    write("documents", replicate(src("documents"))
      .withColumn("text2", when(col("cpy") === 0, col("text")).otherwise(
        expr("array_join(transform(split(text, ' '), t -> concat(t, 'x', cast(cpy AS string))), ' ')")))
      .select(
        off("doc_id", nDoc), col("text2").as("text"), col("lang"), col("source"),
        length(col("text2")).cast("long").as("n_chars")), copies)

    // Copies MUST honor the fixture's unit-norm contract: the driver's
    // vectors are L2-normalized, and the vector operators' raw-dot
    // thresholds (embedding_near_dup's sim ≥ 0.3) assume it. Un-normalized
    // uniform draws (norm ≈ √(d/3) ≈ 4.6 at d=64) make ~45% of random
    // pairs pass that threshold — the round-8 sf1 bench measured the
    // resulting output explosion as a phantom 60× super-linearity before
    // this normalization pinned the distribution.
    val dim = src("embeddings").select(size(col("embedding"))).head.getInt(0)
    write("embeddings", replicate(src("embeddings"))
      .withColumn("vid", col("vec_id") + col("cpy") * lit(nVec))
      .withColumn("raw",
        expr(s"""transform(sequence(0, ${dim - 1}),
                |  j -> cast(xxhash64(concat(cast(vid AS string), ':', cast(j AS string))) % 1000000
                |            AS double) / 1000000.0)""".stripMargin))
      .select(
        col("vid").as("vec_id"),
        when(col("cpy") === 0, col("embedding")).otherwise(
          expr("""transform(raw,
                 |  x -> cast(x / sqrt(aggregate(raw, 0D, (s, y) -> s + y * y)) AS float))""".stripMargin))
          .as("embedding"),
        col("label")), copies / 2 + 1)

    println(s"[gendata] wrote ${copies}x $srcDir -> $outDir")
    spark.stop()
  }
}
