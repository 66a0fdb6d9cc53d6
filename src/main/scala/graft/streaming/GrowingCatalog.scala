package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ScratchDirs

/** The admitted rows of [[GrowingCatalog.readFor]], split by asset. */
private[graft] case class CatalogView(
    bands: Option[DataFrame], docs: Option[DataFrame])

/** The MAINTAINED growing dedup catalog behind `stream_dedup_growing` —
  * the continuous-ingest asset the r13 form didn't have a story for: that
  * shape appended one `catalog/b<N>` parquet dir per trigger and re-read
  * the FULL `catalog/b*` glob on every admission, so per-trigger cost and
  * file count both grew with trigger COUNT. This catalog is the batch
  * side's staged-asset shape applied to the stream:
  *
  *  - **Band asset** `bands/`: admitted docs' LSH band rows
  *    (doc_id, band, sig) in [[graft.operators.TextOps.signatureBands]]
  *    layout — the exact relation the admission join consumes — keyed by
  *    `bkt = pmod(xxhash64(band, sig), 64)`, the band-key bucket. The
  *    compacted base is PARTITIONED by `bkt`, so each trigger's admission
  *    reads only the partitions matching the ARRIVING batch's own band
  *    keys (an `isin` over its ≤64 observed buckets → parquet partition
  *    pruning), not the whole catalog.
  *  - **Doc asset** `docs/`: (doc_id, text), the exact-verify side; read
  *    behind a candidate semi-join, so only implicated docs' text moves.
  *
  * Both assets grow as base + per-trigger deltas with COMPACTION:
  * a trigger appends its admitted rows as `delta/b<batchId>` (overwrite —
  * a retry rewrites, never double-appends), and every `compactEvery`
  * triggers the base and all deltas fold into a fresh base (one file per
  * band bucket; `distinct()` makes the fold idempotent under retried
  * deltas whose rows already reached the base). Steady state: file count
  * is O(buckets + compactEvery), per-trigger read cost is O(pruned base
  * partitions + ≤compactEvery deltas) — flat in trigger count, measured
  * in a 24-trigger run (EXPERIMENTS.md "r13: streaming-ingest load
  * scaling"; its main is listed under "Retired one-shot mains").
  *
  * Retry correctness is carried by the `src_b` column, not caller
  * discipline: every catalog row records the trigger that admitted it,
  * and [[readFor]] filters `src_b < batchId` — so a RETRY of batch b
  * (Structured Streaming re-invokes foreachBatch with the same batchId
  * after a failure, possibly after a prior attempt already appended and
  * even compacted) admits against exactly the pre-b catalog and
  * reproduces the first attempt's decisions bit-for-bit
  * (StreamingParitySpec proves both the mid-run retry and the
  * post-compaction retry). The admission kernel's doc_id ≠ cat_id
  * invariant is the second fence.
  *
  * Scale posture: compaction rewrites the base every `compactEvery`
  * triggers — O(catalog)/K amortized, the local-parquet stand-in for what
  * a table format (Iceberg/Delta) does with manifest commits and
  * size-tiered per-bucket rewrites; the ADMISSION path, the per-trigger
  * hot loop, never pays more than the pruned-bucket read regardless of
  * how many triggers have run. The base swap is move-aside-then-rename
  * (`base` → `base_old` → delete), the local-fs stand-in for an atomic
  * manifest pointer swap; [[readFor]] falls back to `base_old` if a crash
  * landed between the two moves, and the next [[compact]] HEALS either
  * stale layout before folding: only-`base_old` → rename back to `base`;
  * both present (died after swap-in, before the wipes) → drop the stale
  * `base_old` and re-fold the not-yet-wiped deltas idempotently. The
  * rows readFor may double-see in the both-present window are harmless
  * because [[graft.operators.TextOps.admitAgainstCatalog]] dedups its
  * candidate relation — an invariant GrowingCatalogSpec pins explicitly
  * alongside both crash windows.
  */
private[graft] object GrowingCatalog {

  /** Band-key bucket count: the catalog's file-layout unit. Fixed by the
    * LAYOUT (like bucketed-table bucket counts), not session parallelism;
    * at 100 TB the same layout sizes this to target-file-size.
    */
  val Buckets = 64

  private def bktCol = pmod(xxhash64(col("band"), col("sig")), lit(Buckets)).cast("int")

  private def dir(root: File, parts: String*): File =
    parts.foldLeft(new File(root, "catalog"))(new File(_, _))

  /** Existing delta dirs of one asset, as (batchId, dir), id-ascending. */
  private def deltas(root: File, asset: String): Seq[(Long, File)] =
    Option(dir(root, asset, "delta").listFiles()).getOrElse(Array.empty)
      .flatMap { f =>
        val n = f.getName
        if (n.startsWith("b") && n.drop(1).forall(_.isDigit) && n.length > 1)
          Some((n.drop(1).toLong, f))
        else None
      }.sortBy(_._1).toSeq

  /** The live base dir of one asset: `base`, or `base_old` if a crash
    * landed mid-swap (old base moved aside, new one not yet renamed).
    */
  private def liveBase(root: File, asset: String): Option[File] =
    Seq(dir(root, asset, "base"), dir(root, asset, "base_old")).find(_.exists())

  private def readParts(spark: SparkSession, parts: Seq[File]): Option[DataFrame] =
    parts.map(f => spark.read.parquet(f.getPath)).reduceOption(_ unionByName _)

  /** The catalog as of trigger `batchId`, pruned for one arriving batch:
    * only rows admitted by EARLIER triggers (`src_b < batchId` — the
    * retry fence), and the band side only from the buckets the batch's
    * own band keys hash to (partition pruning on the compacted base).
    */
  def readFor(
      spark: SparkSession, root: File, batchId: Long,
      batchBkts: Seq[Int]): CatalogView = {
    val before = col("src_b") < batchId
    val bands = readParts(spark,
      liveBase(root, "bands").toSeq ++ deltas(root, "bands").map(_._2))
      .map(_.filter(before && col("bkt").isin(batchBkts.map(Integer.valueOf): _*))
        .select(col("doc_id"), col("band"), col("sig")))
    val docs = readParts(spark,
      liveBase(root, "docs").toSeq ++ deltas(root, "docs").map(_._2))
      .map(_.filter(before).select(col("doc_id"), col("text")))
    CatalogView(bands, docs)
  }

  /** One trigger of the growing admission loop — the foreachBatch body of
    * `stream_dedup_growing`, reusable by the load experiment and the
    * recovery spec: admit `docs` against the pre-`batchId` catalog, write
    * decisions to `decisions/b<batchId>` (overwrite → retry-idempotent),
    * append the admitted docs' band rows and text as this trigger's
    * deltas, and compact every `compactEvery` triggers.
    */
  def processTrigger(
      spark: SparkSession, sfDir: String, root: File,
      docs: DataFrame, batchId: Long, compactEvery: Int = 2,
      phaseHook: (String, Double) => Unit = (_, _) => ()): Unit = {
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime(); val a = body
      phaseHook(name, (System.nanoTime() - t0) / 1e9); a
    }
    val sigs = graft.operators.TextOps.signatures(docs)
    val batchBands = graft.operators.TextOps.signatureBands(sigs)
      .withColumn("bkt", bktCol)
    // the arriving batch's own band buckets: ≤ Buckets values by
    // construction (bounded collect — this is the pruning predicate).
    // Skipped while the catalog is still empty: the collect is only the
    // read-side prune, and an empty catalog has nothing to prune.
    val haveCatalog = liveBase(root, "bands").nonEmpty || deltas(root, "bands").nonEmpty
    val bkts = phase("bkts_collect") {
      if (!haveCatalog) Seq.empty[Int]
      else batchBands.select(col("bkt")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
    }
    val cat = readFor(spark, root, batchId, bkts)
    val decisions = graft.operators.TextOps.admitAgainstCatalog(
      spark, sfDir, docs, sigs, cat.bands, cat.docs)
    val decDir = new File(root, s"decisions/b$batchId")
    phase("admit_write") {
      decisions.write.mode("overwrite").parquet(decDir.getPath)
    }
    // admitted docs join the catalog for the next trigger — read the
    // just-written decisions back rather than recomputing the plan
    val admitted = spark.read.parquet(decDir.getPath)
      .filter(col("status") === "new").select(col("doc_id"))
    // one file per delta per asset (a trigger's admissions are batch-sized
    // by construction; fewer files = cheaper readFor listings)
    phase("delta_bands") {
      batchBands.join(admitted, Seq("doc_id"), "left_semi")
        .withColumn("src_b", lit(batchId))
        .coalesce(1).write.mode("overwrite")
        .parquet(dir(root, "bands", "delta", s"b$batchId").getPath)
    }
    phase("delta_docs") {
      docs.select(col("doc_id"), col("text"))
        .join(admitted, Seq("doc_id"), "left_semi")
        .withColumn("src_b", lit(batchId))
        .coalesce(1).write.mode("overwrite")
        .parquet(dir(root, "docs", "delta", s"b$batchId").getPath)
    }
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      phase("compact") { compact(spark, root) }
  }

  /** Fold base + all deltas into a fresh base: bands hash-clustered one
    * file per band bucket and PARTITIONED by `bkt` (the pruning layout),
    * docs at a fixed small file count. `distinct()` makes re-compaction
    * after a retried delta (rows already in the base) a no-op, so the
    * whole maintenance loop is idempotent under re-run.
    */
  def compact(spark: SparkSession, root: File): Unit = {
    compactAsset(spark, root, "bands",
      _.repartition(col("bkt")).write.partitionBy("bkt"))
    compactAsset(spark, root, "docs", _.repartition(4).write)
  }

  private def compactAsset(
      spark: SparkSession, root: File, asset: String,
      writer: DataFrame => org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]): Unit = {
    val base = dir(root, asset, "base")
    val old = dir(root, asset, "base_old")
    // Crash healing FIRST (r14 advice fix: the old code wiped `base_old`
    // unconditionally, so when a prior crash between the two renames had
    // left `base_old` as the ONLY live base, a second crash between that
    // wipe and the swap-in lost the catalog). Two stale layouts exist:
    //  - only `base_old` (died between swap-aside and swap-in): restore
    //    the canonical name — from here the normal path applies, and
    //    every subsequent window keeps a live base on disk;
    //  - `base` AND `base_old` (died after swap-in, before the wipes):
    //    `base` is the newer fold, `base_old` is stale — drop it. Deltas
    //    possibly already folded into `base` are re-folded harmlessly
    //    (`distinct()` below), and readFor's union of base + stale deltas
    //    stays correct because admitAgainstCatalog dedups its candidate
    //    relation (the pinned invariant, see GrowingCatalogSpec).
    if (!base.exists() && old.exists())
      require(old.renameTo(base), s"heal rename failed: $old")
    else ScratchDirs.wipe(old)
    val ds = deltas(root, asset)
    val parts = (if (base.exists()) Seq(base) else Seq.empty) ++ ds.map(_._2)
    readParts(spark, parts).foreach { all =>
      val tmp = dir(root, asset, "base_tmp")
      ScratchDirs.wipe(tmp)
      writer(all.distinct()).mode("overwrite").parquet(tmp.getPath)
      if (base.exists()) require(base.renameTo(old), s"swap aside failed: $base")
      require(tmp.renameTo(base), s"swap in failed: $tmp")
      ScratchDirs.wipe(old)
      ds.foreach { case (_, f) => ScratchDirs.wipe(f) }
    }
  }
}
