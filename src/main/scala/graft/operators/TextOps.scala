package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Materialize, Tables}

/** Text-analysis and deduplication operators over `documents` (SURVEY.md
  * §2.2 group V — the LLM-data-pipeline surface).
  *
  * Scale posture: everything here is explode → hash-shuffle → aggregate.
  * Near-dup detection is LSH-banded (docs meet only inside a (band, sig)
  * bucket) — never an all-pairs compare. At 100 TB the band-bucket join is
  * the standard MinHash-LSH plan: candidates ≈ true near-dups, not N².
  * The shared MinHash signature stage is written ONCE per session via
  * [[graft.sources.Materialize.stage]] and scanned by the three dedup
  * queries — the local form of "write the signature table, then band-join".
  */
object TextOps {

  /** Whitespace tokens as an array column. */
  private val tokens = split(col("text"), " ")

  /** 3-token shingles of a document set, one row per (doc_id, shingle)
    * occurrence. No distinct: min-over-multiset == min-over-set, so the
    * minhash signature is identical and we save a full shuffle of the
    * exploded rows.
    */
  private def shingleRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 3), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))")).as("sh"))

  /** MinHash signature table (doc_id, s0..s7), materialized once per
    * (session, sfDir) — the single most expensive subplan of the dedup
    * family, consumed by [[dedupDocsMinhash]], [[ngramJaccard]] and
    * [[dedupClusters]].
    *
    * k = 8 INDEPENDENT permutations from 4 salted digests: s_{2i} / s_{2i+1}
    * = min over shingles of the first / second 16 hex chars (64 bits each)
    * of md5("mh<i>:" ++ shingle). Distinct salts — and the two halves of
    * one digest — give independent orderings of shingle space in the
    * random-oracle model, so with b=4 bands × r=2 rows the textbook LSH recall bound
    * P(candidate) = 1-(1-J²)⁴ holds exactly (a J=0.8 pair is caught with
    * p≈0.98; exact dups always collide). md5 — not murmur `hash()` or
    * xxhash64 — because it is bit-identical across engines and keeps these
    * three queries oracle-checkable; a production 100 TB build swaps the
    * salted md5 for 8 seeded xxhash64 draws (same structure, ~5× cheaper
    * per shingle) at the cost of engine-portable verification. Min over the
    * multiset of shingle rows == min over the set, so no distinct is
    * needed before the aggregate.
    */
  private[operators] def signatureColumns: Seq[org.apache.spark.sql.Column] =
    (0 until 8).map { i =>
      // Two 64-bit permutations per md5: hashes 2i and 2i+1 are the two
      // halves of md5("mh<i>:" ++ shingle). In the random-oracle model the
      // halves are independent functions of the input, so the 8 minhashes
      // stay independent while the structure admits 4 md5 evaluations per
      // shingle instead of 8 — realized only when aggregate subexpression
      // elimination applies (spark.sql.subexpressionElimination.enabled,
      // codegen path); results are identical either way.
      val h = md5(concat(lit(s"mh${i / 2}:"), col("sh")))
      min(substring(h, 1 + 16 * (i % 2), 16)).as(s"s$i")
    }

  private[operators] def minhashSignatures(spark: SparkSession, sfDir: String): DataFrame =
    Materialize.stage(spark, s"minhash_sigs_$sfDir", sfDir) {
      signatures(Tables.documents(spark, sfDir))
    }

  /** The signature aggregation itself, separated from staging so specs can
    * run it over in-memory fixtures.
    */
  private[graft] def signatures(docs: DataFrame): DataFrame =
    shingleRows(docs).groupBy(col("doc_id")).agg(signatureColumns.head, signatureColumns.tail: _*)

  /** LSH candidate pairs (doc1 < doc2 sharing ≥1 band signature), also
    * materialized: three queries consume them, and the banded self-join
    * reads the signature FILES on both sides (Spark 4.1 would not
    * ReuseExchange a derived self-joined subplan).
    *
    *  - 4 bands × r=2 rows: band sig = minhash_{2b} ++ minhash_{2b+1};
    *  - P(candidate) = 1-(1-J²)⁴ for Jaccard J: exact dups always collide,
    *    random pairs essentially never.
    */
  private[graft] def minhashCandidates(spark: SparkSession, sfDir: String): DataFrame =
    Materialize.stage(spark, s"minhash_cand_$sfDir", sfDir) {
      val sigs = minhashSignatures(spark, sfDir).selectExpr(
        "doc_id",
        """stack(4,
          |  0, concat(s0, s1),
          |  1, concat(s2, s3),
          |  2, concat(s4, s5),
          |  3, concat(s6, s7)) AS (band, sig)""".stripMargin)
      sigs.as("a").join(sigs.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
        .distinct()
    }

  /** Force the SHARED MinHash signature + candidate stages to disk.
    * Bench calls this after each [[graft.sources.Materialize.reset]] and
    * times it as its own line ("stage_minhash"), so the one-shot
    * materialization cost is reported explicitly instead of being absorbed
    * by whichever of the three consuming dedup queries happens to run
    * first — the same accounting a production pipeline gives its signature
    * write job.
    */
  def stageDedupInputs(spark: SparkSession, sfDir: String): Unit = {
    minhashCandidates(spark, sfDir): Unit // stage() writes eagerly; sigs staged transitively
  }

  /** V: top-20 tokens in English docs (explode → count → top-k). */
  def textTokens(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .filter(col("lang") === "en")
      .select(explode(tokens).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20)
  }

  /** V+: the N-GRAM COUNT TABLE (orders 1–3) — the canonical language-
    * model corpus statistic (KenLM-style count collection; order-1 is
    * [[textTokens]]' table, order-2 [[bpePairStats]]' — this op is the
    * unified exact table with the top-10 per order declared). All grams
    * are built MAP-SIDE with one positional `transform` per order over
    * each doc's token array (the [[docRepetition]] shingle idiom — no
    * window, no self-join); the only shuffle is the count aggregation,
    * partial-aggregated before exchange. At 100 TB this is the shape that
    * matters: ALL THREE orders ride ONE corpus scan (a nested transform
    * emits (n, gram) structs, flattened into a single Generate — a
    * per-order union would scan the corpus three times, plan-asserted
    * single-scan instead), the exchange carries (gram, partial count),
    * and the declared top-k per order is a map-side WindowGroupLimit
    * over 3 groups, not a global sort of the gram vocabulary.
    */
  def ngramCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("n")).orderBy(col("cnt").desc, col("gram"))
    Tables.documents(spark, sfDir)
      .filter(col("lang") === "en")
      .select(filter(tokens, t => length(t) > 0).as("toks"))
      .select(explode(expr(
        """flatten(transform(array(1, 2, 3), n ->
          |  transform(slice(toks, 1, greatest(size(toks) - n + 1, 0)),
          |    (x, i) -> struct(CAST(n AS BIGINT) AS n,
          |                     concat_ws(' ', slice(toks, i + 1, n)) AS gram))))""".stripMargin))
        .as("g"))
      .select(col("g.n").as("n"), col("g.gram").as("gram"))
      .groupBy(col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .select(col("n"), col("rk"), col("gram"), col("cnt"))
      .orderBy(col("n"), col("rk"))
  }

  /** V+: ADJACENT-PAIR statistics — the counting step of byte-pair /
    * merge-based tokenizer induction (each BPE iteration merges the
    * currently most frequent adjacent pair; this is that frequency table,
    * over the same whitespace tokens as [[textTokens]]). Pairs are built
    * MAP-SIDE with a positional `transform` over each doc's token array —
    * no per-doc window, no posexplode+self-join; the only shuffle is the
    * pair count itself, which partial-aggregates before exchange. The
    * oracle builds the same pairs with `lead` over token positions.
    */
  def bpePairStats(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .filter(col("lang") === "en")
      .select(filter(tokens, t => length(t) > 0).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(slice(toks, 1, size(toks) - 1), (x, i) -> concat(x, ' ', element_at(toks, i + 2)))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(30)
  }

  /** V+: BPE TOKENIZER TRAINING — 8 rounds of byte-pair-encoding merges
    * over the English corpus, the induction loop whose per-round counting
    * step is [[bpePairStats]]. Each round: count adjacent symbol pairs
    * weighted by word frequency, merge the most frequent pair (ties →
    * lexicographically first) greedily left-to-right inside every word,
    * repeat. Output: one row per merge — rank, the pair, the merged
    * symbol, its weighted count at merge time.
    *
    * Scale shape — the reason real BPE trainers are corpus-scale feasible:
    * the corpus collapses ONCE to the (word, count) vocabulary table
    * (bounded by distinct words, ≪ corpus size); all 8 rounds iterate over
    * that vocab only, each round one pair-count aggregate (map-side
    * partial over ≤ word-length pairs per row) plus a 1-row argmax
    * collect — the same driver-loop iteration shape as pagerank. The
    * symbol alphabet is restricted to [a-z0-9]+ tokens so merge literals
    * embed safely in the fold expression.
    *
    * No SQL oracle: the greedy left-to-right merge fold is not expressible
    * as a single DuckDB statement (string replace() skips overlapping
    * occurrences, so adjacent repeats diverge). Declared rows-only; the
    * binding check is BpeSpec — engine merges == an independent sequential
    * in-memory BPE on the identical vocabulary.
    */
  def bpeTrainMerges(spark: SparkSession, sfDir: String): DataFrame =
    // staged: training runs once per (session, fixture); the 8-row merge
    // table is the artifact both the declared train query and
    // [[bpeEncodeDocs]] consume — the same write-the-tokenizer-once
    // accounting a production pipeline uses
    Materialize.stage(spark, s"bpe_merges_$sfDir", sfDir) {
      bpeTrainRun(spark, sfDir)
    }.orderBy(col("rank"))

  /** The (count, symbol-sequence) vocabulary table every BPE round of
    * [[bpeTrainRun]] iterates over — the corpus collapsed ONCE to distinct
    * [a-z0-9]+ words. EXPERIMENTS.md "r13: stage_bpe floor" attributes its
    * cost; that probe's main is listed under "Retired one-shot mains".
    */
  private[graft] def bpeVocab(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("lang") === "en")
      .select(explode(tokens).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$") && length(col("w")) >= 2)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), filter(split(col("w"), ""), s => length(s) > 0).as("syms"))

  private def bpeTrainRun(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rounds = 8
    val vocab = bpeVocab(spark, sfDir)
    // Exactly ONE Spark action per round (the argmax collect): round r's
    // table is persist()ed lazily and MATERIALIZES inside round r+1's
    // argmax job, so the cache still bounds lineage to one round's fold —
    // the grandparent is unpersisted only after its child is cached.
    // (The earlier per-round `count()` halved into this: 17 driver
    // actions → 9, the r11 verdict's stage_bpe lever.)
    var seqs = vocab.persist()
    var prev: DataFrame = null
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    try {
      (1 to rounds).foreach { r =>
        val top = seqs
          .filter(size(col("syms")) >= 2)
          .select(col("cnt"), explode(expr(
            "transform(slice(syms, 1, size(syms) - 1), (x, i) -> concat(x, ' ', element_at(syms, i + 2)))"))
            .as("pair"))
          .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(1).collect()
        // the argmax job just materialized `seqs` into the cache; its
        // parent's cached blocks are now unreachable by future rounds
        if (prev != null) { prev.unpersist(); prev = null }
        if (top.nonEmpty) {
          val Array(a, b) = top(0).getString(0).split(" ", 2)
          val n = top(0).getLong(1)
          merges += ((r.toLong, s"$a $b", a + b, n))
          // greedy leftmost merge: fold over symbols; a just-merged symbol
          // (a+b != a unless the merge is a no-op) cannot re-merge in-round
          val fold = s"""aggregate(syms, cast(array() as array<string>), (acc, x) ->
            |CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '$a' AND x = '$b'
            |  THEN concat(slice(acc, 1, size(acc) - 1), array('$a$b'))
            |  ELSE concat(acc, array(x)) END)""".stripMargin
          if (r < rounds) { // the last round's fold has no consumer
            val next = seqs.select(col("cnt"), expr(fold).as("syms")).persist()
            prev = seqs
            seqs = next
          }
        }
      }
    } finally {
      seqs.unpersist()
      if (prev != null) prev.unpersist(): Unit
    }
    merges.toSeq.toDF("rank", "pair", "merged", "n")
      .orderBy(col("rank"))
  }

  /** V+: BPE ENCODING — apply the [[bpeTrainMerges]] merge table to the
    * corpus (the tokenizer-application half of the train/apply loop):
    * every word's character sequence is folded through the 8 learned
    * merges IN TRAINING ORDER, and the output is the per-language subword
    * statistics a pipeline reports (docs, whitespace tokens, subword
    * tokens, exact avg subwords/doc, compression vs characters).
    *
    * The fold runs over the DISTINCT VOCABULARY, not over word
    * occurrences: BPE is a function of the word alone, so the chained
    * greedy-leftmost fold expressions (same semantics as training; one
    * codegen'd `aggregate` per merge, no UDF) encode each distinct word
    * exactly once, and the corpus pass is an explode + broadcast join on
    * the encoded vocab + per-lang count aggregation. That re-shape took
    * the sf0.1 row from 15.3 s (per-occurrence folding: |corpus tokens| ×
    * 8 quadratic array folds) to ~2 s, and it is the scale-correct form:
    * the vocab is the bounded model-artifact side (|vocab| ≪ corpus — it
    * IS what BPE trains on), occurrences only ever ride a count shuffle.
    * Declared rows-only (the greedy fold is not one-statement SQL); the
    * binding check is BpeSpec: engine encoding == the independent
    * sequential encoder.
    */
  /** (lang, word) occurrences feeding both tokenizer halves. */
  private def bpeWords(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"),
        explode(filter(tokens, t => t.rlike("^[a-z0-9]+$") && length(t) >= 2)).as("w"))

  /** The encoded vocabulary — the second bounded model artifact of the
    * tokenizer (merge table = train output, encoded vocab = its closure
    * over the corpus vocabulary): deterministic per fixture, |vocab| rows,
    * staged once per (session, fixture) exactly like the merge table. A
    * production pipeline ships the tokenized-vocab cache alongside the
    * tokenizer rather than re-folding 8 interpreted aggregate() lambdas
    * per run (that re-fold was 4.76 s of bpe_encode_docs at sf0.1).
    * Bench forces this per pass as its own stage_bpe line.
    */
  private[graft] def bpeEncodedVocab(spark: SparkSession, sfDir: String): DataFrame =
    Materialize.stage(spark, s"bpe_vocab_$sfDir", sfDir) {
      val merges = bpeTrainMerges(spark, sfDir).collect()
        .map(r => (r.getString(1).split(" ", 2), r.getString(2)))
        .map { case (ab, m) => (ab(0), ab(1), m) }
      val vocab = bpeWords(spark, sfDir).select(col("w")).distinct()
        .withColumn("syms", expr("filter(split(w, ''), s -> length(s) > 0)"))
      merges.foldLeft(vocab) { case (df, (a, b, m)) =>
        df.withColumn("syms", expr(
          s"""aggregate(syms, cast(array() as array<string>), (acc, x) ->
             |CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '$a' AND x = '$b'
             |  THEN concat(slice(acc, 1, size(acc) - 1), array('$m'))
             |  ELSE concat(acc, array(x)) END)""".stripMargin))
      }.select(col("w"), size(col("syms")).cast("long").as("n_sub"),
        length(col("w")).cast("long").as("n_chars"))
    }

  /** Forces both tokenizer artifacts (merge table, encoded vocabulary) to
    * their staged parquet form — the per-pass tokenizer-train job Bench
    * times as "stage_bpe", mirroring stage_minhash's accounting: the
    * train cost lands once per pass in the total, and the declared bpe_*
    * queries then measure their steady-state reads.
    */
  def stageBpeArtifacts(spark: SparkSession, sfDir: String): Unit = {
    // Materialize.stage writes the parquet eagerly on first call, so
    // building the plan IS the force; no extra action needed.
    bpeEncodedVocab(spark, sfDir): Unit
  }

  def bpeEncodeDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val words = bpeWords(spark, sfDir)
    val encodedVocab = bpeEncodedVocab(spark, sfDir)
    val perLangWords = words.join(broadcast(encodedVocab), "w")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("sum_words"),
        sum(col("n_sub")).as("sum_subwords"),
        sum(col("n_chars")).as("sum_chars"))
    Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .join(perLangWords, Seq("lang"), "left")
      .select(
        col("lang"), col("n_docs"),
        coalesce(col("sum_words"), lit(0L)).as("sum_words"),
        coalesce(col("sum_subwords"), lit(0L)).as("sum_subwords"),
        coalesce(col("sum_chars"), lit(0L)).as("sum_chars"),
        (coalesce(col("sum_subwords"), lit(0L)).cast("double") /
          col("n_docs").cast("double")).as("avg_subwords_per_doc"))
      .orderBy(col("lang"))
  }

  /** V+: CROSS-SOURCE OVERLAP MATRIX — for every source pair, how many
    * distinct 3-gram shingles they share: the "which of my sources
    * duplicate each other" report that decides source-level dedup order
    * and mixture weights before any doc-level pass. Shape at scale (r16
    * rewrite): `source` rides the SAME ROW as the text, so shingle-hash
    * rows carry it directly — the pre-r16 plan exploded shingles keyed by
    * doc_id and then JOINED the corpus back to itself just to recover the
    * source column (a corpus-scale shuffle + second scan), then
    * self-joined the distinct (source, hash) pairs (two more derivations:
    * Spark 4.1 does not ReuseExchange a self-joined derived subplan).
    * Now: hash shingles in-row, dedup per doc map-side (array_distinct
    * over 8-byte hashes), aggregate each hash's source SET (bounded by
    * ǀsourcesǀ — tiny) in ONE exchange that also subsumes the old
    * distinct, and emit pairs from each set map-side (the
    * token_cooccurrence discipline). One corpus scan, one hash-keyed
    * exchange, output ǀsourcesǀ²/2 rows at any corpus size. Never
    * doc-pairwise, never raw text on an exchange.
    */
  def sourceOverlapMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val srcSh = Tables.documents(spark, sfDir)
      .select(col("source"), tokens.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("source"), explode(expr(
        """array_distinct(transform(sequence(0, size(t) - 3),
          |  i -> xxhash64(concat(t[i], ' ', t[i+1], ' ', t[i+2]))))""".stripMargin)).as("h"))
    srcSh
      .groupBy(col("h"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .select(explode(expr(
        """flatten(transform(ss, (a, i) ->
          |  transform(slice(ss, i + 2, size(ss)), b ->
          |    struct(a AS source1, b AS source2))))""".stripMargin)).as("p"))
      .select(col("p.source1"), col("p.source2"))
      .groupBy(col("source1"), col("source2"))
      .agg(count(lit(1)).as("n_shared_shingles"))
      .orderBy(col("source1"), col("source2"))
  }

  /** Misra-Gries frequent-items sketch over one partition's tokens: at most
    * `k` counters; a miss on a full table decrements every counter and
    * drops zeros. Guarantee (the classic one): any item whose true count in
    * the partition exceeds n_p/(k+1) still holds a counter at the end —
    * NO false negatives above that threshold (false positives are fine;
    * the caller re-counts exactly). Amortized O(1)/item: each
    * decrement-all removes k units of count and is charged against the k
    * arrivals that paid them in.
    */
  private[graft] def misraGries(it: Iterator[String], k: Int): Iterator[String] = {
    val counters = new scala.collection.mutable.HashMap[String, Long]()
    it.foreach { t =>
      counters.get(t) match {
        case Some(c) => counters.update(t, c + 1)
        case None if counters.size < k => counters.update(t, 1L)
        case None =>
          val dead = new scala.collection.mutable.ArrayBuffer[String]()
          counters.foreachEntry { (key, c) =>
            if (c == 1L) dead += key else counters.update(key, c - 1)
          }
          dead.foreach(counters.remove)
      }
    }
    counters.keysIterator
  }

  /** V+: heavy hitters WITHOUT a full-cardinality shuffle — the two-pass
    * sketch-then-recount plan: (1) each partition runs a bounded
    * [[misraGries]] sketch (k=1024 counters) over its tokens and emits
    * only its ≤k candidate tokens — sound distributively because a token
    * with global count > n/(k+1) must exceed n_p/(k+1) in at least one
    * partition; (2) the candidates (≤ k × partitions rows, a plan-time
    * broadcast) semi-join back onto the token stream and ONLY those are
    * exactly re-counted and filtered to the φ = 1/512 support threshold
    * (k=1024 > 512 ⇒ no true heavy hitter is missed). Output is exact
    * counts — deterministic regardless of sketch merge order, which is
    * what makes it oracle-able.
    *
    * At 100 TB the exchange after the recount's partial agg carries
    * ≤ candidates × partitions rows — bounded by the SKETCH size, not the
    * token vocabulary (billions of distinct typos/ids in a web corpus);
    * the naive exact plan shuffles the full vocabulary. mapPartitions is
    * justified here: a decaying counter table is genuinely imperative
    * per-partition state Catalyst can't express.
    */
  def heavyHittersTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, sfDir)
      .select(explode(tokens).as("tok"))
      .filter(length(col("tok")) > 0)
    val candidates = toks.as[String]
      .mapPartitions(it => misraGries(it, 1024))
      .toDF("tok").distinct()
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.join(broadcast(candidates), Seq("tok"), "left_semi")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(total)
      .filter(col("n") * 512 > col("n_total"))
      .select(col("tok"), col("n"))
      .orderBy(col("n").desc, col("tok"))
  }

  /** V+: sequence PACKING — the step between chunking and the trainer:
    * assign documents to fixed-capacity (2048-token) bins, recording each
    * doc's bin and starting offset, using the streaming contiguous-fill
    * discipline (docs straddle bin boundaries; the trainer's loader splits
    * at the boundary — same convention as packed pre-training shards).
    * Packing is inherently sequential, so the plan SHARDS it: doc_id % 16
    * streams pack independently — one shuffle on the shard key, then a
    * per-shard running sum (window) computes every assignment in one
    * pass. At 100 TB the shard count scales with the cluster (it only
    * changes which bins exist, not their tightness), each shard's window
    * is a single ordered scan, and the output is exactly the manifest a
    * packed-dataset writer consumes. All-integer arithmetic → oracled.
    */
  def packTokenBins(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = 2048
    val d = Tables.documents(spark, sfDir).select(
      col("doc_id"),
      (col("doc_id") % 16).as("shard"),
      expr("CAST(size(filter(split(text, ' '), x -> length(x) > 0)) AS BIGINT)").as("n_tokens"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    d.withColumn("start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(
        col("shard"), col("doc_id"), col("n_tokens"),
        expr(s"CAST(start DIV $cap AS BIGINT)").as("bin_id"),
        expr(s"CAST(start % $cap AS BIGINT)").as("bin_offset"))
      .orderBy(col("shard"), col("doc_id"))
  }

  /** V+: sliding-window document chunking — tokenize → fixed 32-token
    * windows at stride 24 (8-token overlap), one row per (doc, chunk): the
    * standard corpus→training-sample step before tokenizer packing. Pure
    * map-side work (tokenize + transform + posexplode happen inside one
    * WholeStageCodegen pass, no shuffle except the presentation sort), so
    * at 100 TB it scales with scan bandwidth.
    */
  def docChunks(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens.as("t"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, greatest((size(t) - 1) div 24, 0)), i -> slice(t, i * 24 + 1, 32))")))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("chunk_no"),
        size(col("col")).cast("long").as("n_tokens"),
        array_join(col("col"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_no"))

  /** V+: train/eval contamination check — which held-out docs (doc_id ends
    * in 7, a deterministic 10% split) share verbatim 8-token grams with the
    * training split, and how many. The join key is xxhash64(gram) — an
    * 8-byte key instead of a ~50-byte string — and each side is reduced to
    * DISTINCT (doc, gram-hash) pairs before the join, so the shuffle
    * carries hashes, never gram text. At 100 TB this is the standard
    * decontamination plan: gram-hash both corpora, equi-join, aggregate;
    * collision probability at 64 bits is negligible against corpus sizes.
    */
  def contaminationCheck(spark: SparkSession, sfDir: String): DataFrame = {
    // The (doc, gram-hash) table is staged once (Materialize): both split
    // branches then scan the staged file instead of re-running
    // tokenize→explode→hash per side — at 100 TB that is one corpus read,
    // not two, the same write-once pattern as the MinHash signature stage.
    val grams = Materialize.stage(spark, s"contam_grams_$sfDir", sfDir) {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), tokens.as("t"))
        .filter(size(col("t")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(t) - 8), i -> array_join(slice(t, i + 1, 8), ' '))")).as("gram"))
        .select(col("doc_id"), xxhash64(col("gram")).as("g"))
        .distinct()
    }
    val evalSide = grams.filter(col("doc_id") % 10 === 7)
      .withColumnRenamed("doc_id", "eval_doc")
    val trainSide = grams.filter(col("doc_id") % 10 =!= 7)
      .withColumnRenamed("doc_id", "train_doc")
    // r16 NEGATIVE RESULT, kept as the pre-r16 form: splitting the two
    // countDistincts (a LEFT SEMI + plain count for n_shared_grams so the
    // first metric never sees the eval×train fanout, a pre-deduped pair
    // count for n_train_docs) removes the Expand ×2 over the fanout but
    // measured SLOWER both SFs (1.69 → 2.02 s at sf0.1, 8.09 → 9.18 s at
    // sf1, paired): the Expand feeds a map-side partial DEDUP, so the 2×
    // row duplication never reaches an exchange, while the split form
    // pays an extra staged-file scan, an extra exchange chain and a final
    // per-doc join. The 2-distinct aggregate over the fanout stays.
    evalSide.join(trainSide, "g")
      .groupBy(col("eval_doc"))
      .agg(
        countDistinct(col("g")).as("n_shared_grams"),
        countDistinct(col("train_doc")).as("n_train_docs"))
      .orderBy(col("eval_doc"))
  }

  /** V+: DUPLICATED-SPAN FRACTION — the within-corpus duplicated-text
    * measurement (the Lee-et-al./Gopher "what fraction of this document is
    * verbatim duplicated elsewhere" signal, which substring-dedup policies
    * threshold on): a doc position is duplicated when its 8-gram also
    * occurs in ANOTHER document. Distinct from [[contaminationCheck]]
    * (train↔eval overlap) — this is corpus↔corpus, per position. Plan
    * shape: one (doc, pos, 8-byte gram hash) table collapsed to distinct
    * (g, doc) pairs with a position count; per-doc totals and the df = 1
    * complement (see inline) fold back per doc with every aggregate
    * partial-aggregated. Every exchange carries 8-byte hashes, never
    * gram text (the [[contaminationCheck]] discipline); the fraction is
    * a class-2 raw quotient of exact counts.
    */
  def dupSpanFraction(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE corpus scan (r15): the pre-r15 form built the gram table twice —
    // once under the df aggregate, once as the join probe — so the corpus
    // was tokenized and 8-gram-hashed two full times (2 FileScans in the
    // committed before-plan). Collapse position rows to distinct (g, doc)
    // pairs with a position count; the exchanges carry (8-byte hash, id,
    // count) rows, never gram text — the guide §2.3/2.4 trade (shuffle a
    // lightweight proxy instead of recomputing the heavy derivation).
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens.as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 8), i -> array_join(slice(t, i + 1, 8), ' '))")).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("g"))
    // r16 skew hardening (guide §2.5, VERDICT item 7): the r15 form read
    // df off `count(*) over (partition by g)` — a window has NO partial
    // aggregation, so one pathologically hot 8-gram (boilerplate repeated
    // across millions of docs) would land every one of its (g, doc) rows
    // in a single window partition. Replaced with the df = 1 COMPLEMENT,
    // which needs only fully partial-aggregated groupBys:
    //   n_dup = n_grams − Σ_{g: df(g)=1} c(g, doc)
    // because a doc position is non-duplicated exactly when its gram
    // occurs in no other document. Rows into the per-g aggregate are
    // distinct (g, doc) pairs, so count(*) per g IS countDistinct(doc);
    // for a df = 1 gram, min(doc_id) is THE owning doc and sum(c) its
    // position count. Every aggregate partial-aggregates map-side (a hot
    // g collapses to ≤ one row per map partition before its exchange),
    // and the only join is doc-keyed between two per-doc tables. Values
    // identical — oracle hash re-verified.
    val pairRows = grams
      .groupBy(col("g"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val perDoc = pairRows
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"))
    val uniqueSums = pairRows
      .groupBy(col("g"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"), sum(col("c")).as("sc"))
      .filter(col("df") === 1)
      .groupBy(col("doc_id"))
      .agg(sum(col("sc")).as("n_unique"))
    perDoc.join(uniqueSums, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_grams"),
        (col("n_grams") - coalesce(col("n_unique"), lit(0L))).as("n_dup"),
        ((col("n_grams") - coalesce(col("n_unique"), lit(0L))).cast("double")
          / col("n_grams").cast("double")).as("dup_fraction"))
      .orderBy(col("doc_id"))
  }

  /** V+: INCREMENTAL exact dedup — the nightly-ingest pattern: a 20% slice
    * of docs (doc_id % 5 = 4) arrives as the "incoming" batch and is
    * deduplicated against the fingerprint CATALOG of the other 80%
    * ("already ingested"), then within itself. Only fingerprints cross the
    * exchanges — the catalog side is (length, xxhash64, md5) ≈ 24 B/row
    * (staged once, like a production catalog table), the incoming side
    * anti-joins against it and keeps min-doc_id per fingerprint. The
    * catalog broadcasts while it fits the executors (the plan here); once
    * it outgrows that — a LEFT ANTI can only build on the catalog side, so
    * the incoming batch can never be the broadcast side — the plan becomes
    * a shuffle anti-join on the 24-byte keys: both sides exchange only
    * fingerprints, so even a full-catalog shuffle moves GB-scale data per
    * 100 TB of corpus.
    */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    def fp(df: DataFrame): DataFrame = df.select(
      col("doc_id"),
      length(col("text")).as("fp_len"),
      xxhash64(col("text")).as("fp_x"),
      md5(col("text")).as("fp_m"))
    val docs = Tables.documents(spark, sfDir)
    val catalog = Materialize.stage(spark, s"dedup_catalog_$sfDir", sfDir) {
      fp(docs.filter(col("doc_id") % 5 =!= 4))
        .select(col("fp_len"), col("fp_x"), col("fp_m")).distinct()
    }
    fp(docs.filter(col("doc_id") % 5 === 4))
      .join(catalog, Seq("fp_len", "fp_x", "fp_m"), "left_anti")
      .groupBy(col("fp_len"), col("fp_x"), col("fp_m"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** V+: BLOOM-PRUNED incremental dedup — [[dedupIncremental]]'s exact
    * semantics with a runtime-filter stage in front of the anti-join: a
    * Bloom filter is built driver-side over the INCOMING batch's 64-bit
    * fingerprints (the small side — `df.stat.bloomFilter`, a few hundred
    * KB for millions of keys) and probed against the CATALOG side with the
    * native codegen [[graft.functions.BloomMightContainLong]] expression
    * BEFORE the catalog rows reach the exchange. A catalog fingerprint the
    * filter rejects cannot kill any incoming row, so dropping it is
    * result-transparent; false positives merely pass extra rows into the
    * exact anti-join. The oracle is therefore identical to
    * `dedup_incremental`'s restricted to the same output.
    *
    * Why this is THE 100 TB shape: the catalog is the corpus-sized side
    * (O(all documents ever ingested)) while a nightly batch is ~1% of it —
    * without the bloom stage a shuffle anti-join exchanges the FULL
    * catalog every night; with it, catalog exchange volume drops to
    * ≈ |batch| × (1 + fpp) rows regardless of catalog size, turning the
    * nightly cost from O(corpus) to O(ingest). Same mechanism as Spark's
    * own runtime-row-level bloom join filters, made explicit and plannable.
    */
  def dedupBloomPrune(spark: SparkSession, sfDir: String): DataFrame = {
    def fp(df: DataFrame): DataFrame = df.select(
      col("doc_id"),
      length(col("text")).as("fp_len"),
      xxhash64(col("text")).as("fp_x"),
      md5(col("text")).as("fp_m"))
    val docs = Tables.documents(spark, sfDir)
    // Same staged catalog as dedupIncremental (shared stage key — one
    // corpus read serves both declared queries per bench pass).
    val catalog = Materialize.stage(spark, s"dedup_catalog_$sfDir", sfDir) {
      fp(docs.filter(col("doc_id") % 5 =!= 4))
        .select(col("fp_len"), col("fp_x"), col("fp_m")).distinct()
    }
    val incoming = fp(docs.filter(col("doc_id") % 5 === 4))
    // Build phase: one pass over the (projected) incoming batch. The item
    // count only sizes the filter, so the cheap upper bound |documents|/5
    // avoids a separate count job; fpp 1% keeps the filter KB-scale here
    // and ~1.2 MB per million keys in production. Footer-metadata count
    // (no Spark job) since r15 — same value as docs.count().
    val nEstimate = math.max(64L, Tables.rowCount(spark, sfDir, "documents") / 5)
    val bloom = incoming.stat.bloomFilter("fp_x", nEstimate, 0.01)
    val bytesOut = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bytesOut)
    val pruned = catalog.filter(
      call_function("bloom_might_contain", lit(bytesOut.toByteArray), col("fp_x")))
    incoming
      .join(pruned, Seq("fp_len", "fp_x", "fp_m"), "left_anti")
      .groupBy(col("fp_len"), col("fp_x"), col("fp_m"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
      // observe(): result-transparent pipeline metrics, the production
      // alerting hook — a survivor-rate collapse (all dups) or spike
      // (catalog miss) pages before bad data lands. Read post-action from
      // queryExecution.observedMetrics (BloomPruneSpec) or a
      // QueryExecutionListener in a real deployment; computed inline with
      // the pass, no extra job. Placed ABOVE the sort: range partitioning
      // runs a sampling pass over its child, which would double-count any
      // observation below it.
      .observe("dedup_metrics",
        count(lit(1)).as("survivors"),
        min(col("doc_id")).as("min_surviving_doc"))
  }

  /** V+: corpus-frequency commonness score — a model-free quality signal:
    * per doc, the mean corpus frequency of its tokens (high = boilerplate
    * vocabulary, low = rare/noisy). Exact integer arithmetic end-to-end
    * (counts and sums of counts), so the score is bit-reproducible across
    * engines — deliberately NOT log-probability, whose last-ulp libm
    * differences would break hash matching. Plan: one token-count
    * aggregate over the corpus (partial+final), then an explode+join on
    * xxhash64(token) — an 8-byte key instead of the raw (skew-prone)
    * token string, the same pre-hash as [[contaminationCheck]], so token
    * text never rides an exchange — and a per-doc mean; the token-count
    * side is a catalog-style aggregate that AQE broadcasts when small.
    * (Counts keyed by hash equal counts keyed by token up to 64-bit
    * collisions — negligible against any real vocabulary size.)
    */
  def docCommonness(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), xxhash64(col("tok")).as("tk"))
    val counts = toks.groupBy(col("tk")).agg(count(lit(1)).as("cnt"))
    toks.join(counts, "tk")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("sum_freq"),
        (sum(col("cnt")).cast("double") / count(lit(1)).cast("double")).as("mean_freq"))
      .orderBy(col("doc_id"))
  }

  /** V+: within-document repetition ratio — the Gopher-style quality
    * filter: the fraction of DUPLICATE 3-token shingles inside each doc
    * (high = boilerplate/looping text, a standard pre-training drop rule).
    * Repetition is a per-document property, so the whole computation is
    * map-side higher-order functions (transform → array_distinct → size)
    * on the one row that holds the doc: NO shuffle except the
    * presentation sort, plan-asserted — at 100 TB this scales with scan
    * bandwidth exactly like [[docChunks]].
    */
  def docRepetition(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), expr(
        "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', slice(t, i + 1, 3)))").as("shs"))
      .select(
        col("doc_id"),
        size(col("shs")).cast("long").as("n_shingles"),
        size(array_distinct(col("shs"))).cast("long").as("n_distinct"))
      .select(
        col("doc_id"), col("n_shingles"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_shingles").cast("double"))
          .as("dup_ratio"))
      .orderBy(col("doc_id"))

  /** V: per-language doc count / avg chars / avg tokens. */
  def textStatsLang(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double")).as("avg_chars"),
        (sum(size(tokens).cast("long")).cast("double") / count(lit(1)).cast("double")).as("avg_tokens"))
      .orderBy(col("lang"))
  }

  /** V: exact dedup — group by a content FINGERPRINT, not the raw text:
    * (length(text), xxhash64(text), md5(text)) is a 232-bit composite whose
    * collision probability is negligible, and the dedup shuffle then moves
    * ~24 bytes per row instead of the full text payload — at 100 TB the
    * difference between shuffling fingerprints and shuffling the corpus.
    * The length is DERIVED in-query (never the stored n_chars column: a row
    * whose metadata disagreed with its text would silently split a dup
    * group the oracle's group-by-text merges). The survivor/count outputs
    * are identical to a group-by-text.
    */
  def dedupDocsExact(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val groups = docs
      .select(col("doc_id"), length(col("text")).as("fp_len"),
        xxhash64(col("text")).as("fp_x"), md5(col("text")).as("fp_m"))
      .groupBy(col("fp_len"), col("fp_x"), col("fp_m"))
      .agg(min(col("doc_id")).as("survivor"), count(lit(1)).as("n"))
    val dist = groups.agg(
      count(lit(1)).as("n_distinct"),
      sum(col("survivor")).as("survivor_id_sum"),
      sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_groups"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    total.crossJoin(dist)
  }

  /** V: near-dup candidate pairs via deterministic MinHash-LSH — the
    * ordered surface of [[minhashCandidates]].
    */
  def dedupDocsMinhash(spark: SparkSession, sfDir: String): DataFrame =
    minhashCandidates(spark, sfDir).orderBy(col("doc1"), col("doc2"))

  /** V+: exact 3-gram Jaccard similarity for the MinHash-LSH candidate
    * pairs — the verify stage of LSH dedup: candidates come from the
    * banded join (never all pairs), then the exact set overlap is computed
    * only for those. |A∩B| via a shingle equi-join restricted to candidate
    * pairs; |A∪B| = |A|+|B|-|A∩B|. Candidates whose band collision was a
    * hash accident get jaccard 0 (left join).
    */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    candidateOverlapCounts(spark, sfDir)
      .select(
        col("doc1"), col("doc2"), col("n_inter"),
        (col("n_inter").cast("double") /
          (col("n1") + col("n2") - col("n_inter")).cast("double")).as("jaccard"))
      .orderBy(col("doc1"), col("doc2"))

  /** V+: CONTAINMENT for the same candidate pairs — the asymmetric overlap
    * measures C(1⊆2) = |A∩B|/|A| and C(2⊆1) = |A∩B|/|B|. Containment is
    * the dedup signal Jaccard structurally misses: a short document pasted
    * inside a much longer one has near-1 containment but low Jaccard
    * (|A∩B|/|A∪B| is diluted by the big doc). The `contained` flag marks
    * pairs where either direction reaches 0.9 — both ratios are exact
    * int/int IEEE quotients (class-2), so the threshold compare is
    * bit-identical cross-engine.
    */
  def minhashContainment(spark: SparkSession, sfDir: String): DataFrame = {
    val fwd = col("n_inter").cast("double") / col("n1").cast("double")
    val rev = col("n_inter").cast("double") / col("n2").cast("double")
    candidateOverlapCounts(spark, sfDir)
      .select(
        col("doc1"), col("doc2"), col("n_inter"),
        fwd.as("cont_1in2"), rev.as("cont_2in1"),
        when(greatest(fwd, rev) >= 0.9, 1L).otherwise(0L).as("contained"))
      .orderBy(col("doc1"), col("doc2"))
  }

  /** V+: LSH QUALITY GATE — precision/recall of the banded-MinHash
    * candidate generator against exact ground truth, the one-row report
    * that decides whether the (bands, rows) configuration is right before
    * a production dedup run. Ground truth = every pair with exact 3-gram
    * Jaccard ≥ 0.5, enumerable WITHOUT an all-pairs pass: only pairs
    * sharing ≥ 1 shingle can have J > 0, so the shingle-keyed self-join
    * (bounded by Σ df² over shingles; at production DF-band the heavy
    * grams first, the [[tokenCooccurrence]] discipline) generates the
    * candidate universe and the threshold test is INTEGER-exact
    * (J ≥ ½ ⇔ 3·|∩| ≥ |A|+|B|). precision = hits/candidates and recall =
    * hits/truth are class-2 int/int quotients. The oracle recomputes both
    * sides (the same banded-LSH SQL the dedup oracle uses + the exact
    * truth set), so the whole evaluation sits on the cross-engine hash.
    */
  /** V+: EXACT set-similarity self-join by PREFIX FILTERING (the
    * PPJoin/AllPairs family, Bayardo et al. WWW'07 / Chaudhuri et al.
    * ICDE'06) — every English doc pair whose DISTINCT-token Jaccard is
    * ≥ 0.5, with a LOSSLESS candidate set: unlike the MinHash band
    * ([[dedupDocsMinhash]], probabilistic recall), prefix filtering is
    * complete by the prefix lemma — order tokens globally by (df asc,
    * token), keep each doc's first n − ⌈t·n⌉ + 1 tokens, and any pair
    * with J ≥ t MUST collide on ≥ 1 prefix token. Candidates therefore
    * come from an equi join keyed on the RAREST tokens (Σ df_prefix²
    * pairs, not corpus² and not stopword df²), then exact verification
    * joins the full token sets only for candidates. Determinism: the
    * J ≥ 0.5 gate is the INTEGER comparison 3·|∩| ≥ n1+n2 (no float in
    * the filter); the surfaced jaccard is one class-2 division. Scale:
    * df ranking and prefix extraction are token-keyed shuffles of the
    * deduped (doc, token) table; the verify join touches candidate pairs
    * only — the standard exact-join economics at corpus scale. The
    * declared query runs on the doc_id % 10 audit slice (the
    * [[minhashPrEval]] framing): this fixture corpus is ~90% near-dup by
    * construction, so FULL-corpus J ≥ 0.5 pair enumeration is truly
    * cluster-quadratic (measured 15.2 M pairs at sf1) — production runs
    * the lossless join per sample/shard for audits and uses
    * `dedup_clusters` (components, linear output) for corpus-wide dedup.
    */
  def jaccardJoinExact(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, sfDir)
      .filter(col("lang") === "en" && col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), x -> length(x) > 0)")).as("tok"))
      .distinct()
    val df_ = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    val ranked = toks.join(df_, Seq("tok"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    // prefix length for t = 0.5: n − ⌈n/2⌉ + 1 (integer DIV, not float /)
    val prefix = ranked.filter(col("pos") <= expr("n - (n + 1) DIV 2 + 1"))
    val cand = prefix.select(col("tok"), col("doc_id").as("d1"), col("n").as("n1"))
      .join(prefix.select(col("tok"), col("doc_id").as("d2"), col("n").as("n2")), Seq("tok"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("n1"), col("n2"))
      .distinct()
    val inter = cand
      .join(toks.select(col("doc_id").as("d1"), col("tok")), Seq("d1"))
      .join(toks.select(col("doc_id").as("d2"), col("tok")), Seq("d2", "tok"))
      .groupBy(col("d1"), col("d2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .filter(lit(3L) * col("inter") >= col("n1") + col("n2"))
      .select(col("d1").as("doc1"), col("d2").as("doc2"),
        col("inter"), col("n1"), col("n2"),
        (col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double")).as("jaccard"))
      .orderBy(col("doc1"), col("doc2"))
  }

  /** V+: LSH quality gate — precision/recall of the banded-MinHash
    * candidate generator against the EXACT shared-shingle truth set.
    *
    * **FIXTURE-BOUND ORACLE (≤ sf1) — do not drive this key's DuckDB
    * oracle at sf10+.** The truth side enumerates all J ≥ ½ pairs from
    * the shared-shingle universe; on this ~90%-near-dup fixture corpus
    * that is cluster-quadratic on BOTH engines, and the r12 sf10 campaign
    * measured the DuckDB side spilling >80 GB before being killed (the
    * ENGINE side completed). The scale-proof form of this eval is
    * [[minhashPrPlanted]] — linear planted truth, oracle-PASS at sf10 —
    * which is what any 10×+ campaign should run; this key stays declared
    * as the exact-truth audit at fixture SFs. COVERAGE.md records the
    * same fence next to the key's row.
    */
  def minhashPrEval(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = minhashCandidates(spark, sfDir).select(col("doc1"), col("doc2"))
    // r16: truth is evaluated ONCE — cand is DISTINCT (doc1, doc2) pairs
    // (minhashCandidates ends in .distinct() and is staged), so a LEFT
    // OUTER marker join + count(hit) computes n_truth and n_hit off one
    // truth evaluation, where the pre-r16 form ran the whole truth
    // subtree once per aggregate branch (§2.4 — don't compute it twice).
    //
    // NEGATIVE RESULT on the derivation itself, kept as the r15 form: a
    // map-side array_distinct derivation (dropping the corpus-wide
    // distinct exchange, as docTermSets r16 does) measured 2.2 → 11.1 s
    // at sf0.1 / 12.1 → 122 s at sf1 — without a shuffle boundary below
    // the self-join, Spark 4.1's plan-time size estimate (the tiny
    // documents file) BROADCASTS the entire exploded shingle table and
    // AQE cannot correct it. Forcing SMJ (hint("merge")) recovered only
    // part of it (5.5 s / 46 s — the per-row array materialization and
    // the lost shared dedup exchange still lose to .distinct()'s
    // map-side partial dedup + AQE-statistied join). The distinct-based
    // derivation stays.
    val sh = shingleRows(Tables.documents(spark, sfDir)).distinct()
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val truth = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("n_inter"))
      .join(cnt.select(col("doc_id").as("doc1"), col("n_sh").as("n1")), Seq("doc1"))
      .join(cnt.select(col("doc_id").as("doc2"), col("n_sh").as("n2")), Seq("doc2"))
      .filter(col("n_inter") * 3 >= col("n1") + col("n2"))
      .select(col("doc1"), col("doc2"))
    val truthHit = truth
      .join(cand.withColumn("hit", lit(1)), Seq("doc1", "doc2"), "left_outer")
      .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hit"))
    cand.agg(count(lit(1)).as("n_cand"))
      .crossJoin(broadcast(truthHit))
      .select(
        col("n_cand"), col("n_truth"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_cand").cast("double")).as("precision"),
        (col("n_hit").cast("double") / col("n_truth").cast("double")).as("recall"))
  }

  /** V+: PLANTED-TRUTH MinHash precision/recall eval — the scale-safe
    * sibling of [[minhashPrEval]], whose exact all-pairs truth set is
    * cluster-quadratic and spilled >80 GB at sf10 (EXPERIMENTS.md). Here
    * the truth is PLANTED at query time, deterministically: every doc in
    * the 1% `doc_id % 100 = 7` sample spawns one probe — the doc with
    * tokens dropped by a salted-md5 coin (`md5('e:' || tok)` below a
    * band threshold), in three severity bands by `(doc_id DIV 100) % 3`
    * (hex thresholds '1'/'18'/'2' ≈ 1/16, 3/32, 1/8 of token TYPES
    * dropped — measured planted J averages 0.85/0.52/0.34 at sf0.1,
    * straddling the J = 0.5 operating point so the three rows trace the
    * LSH S-curve). The truth set is the planted
    * (probe, source) list itself: ONE exact-Jaccard verification per
    * probe, linear at any SF. Recall = recovered planted-true pairs /
    * planted-true pairs; precision is measured on the banded candidates
    * the probes produce against the corpus, exact-verified candidate-by-
    * candidate (the dedup family's bounded verify economics — probes are
    * 1% of the corpus and fan out only to their LSH buckets, never
    * corpus²). Truth gate is the house integer comparison
    * 3·|∩| ≥ n1+n2 (⟺ J ≥ 0.5, float-free); the surfaced ratios are
    * single class-2 divisions, NULL on a 0 denominator.
    */
  def minhashPrPlanted(spark: SparkSession, sfDir: String): DataFrame = {
    val off = 1000000000000L
    val thr = "CASE WHEN band = 0 THEN '1' WHEN band = 1 THEN '18' ELSE '2' END"
    // probes: same whitespace tokenization as [[shingleRows]] (split on
    // ' ', no empty-token filter), so an undropped probe would shingle
    // identically to its source
    // r16 (guide §1.2 step 2): the salted-md5 token-drop coin is the
    // expensive part of the probe derivation (one md5 PER TOKEN of the
    // 1 % slice), but three of pr's four consumers (the semi-join doc
    // list, the planted-pair key table, the planted summary) use ONLY
    // id columns — pure arithmetic on doc_id. Split those onto prIds so
    // the md5 chain runs exactly once (under psh), not four times.
    val prIds = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 100 === 7)
      .select(col("doc_id").as("src_id"),
        expr("(doc_id DIV 100) % 3").as("band"),
        (col("doc_id") + lit(off)).as("probe_id"))
    val pr = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 100 === 7)
      .select(col("doc_id").as("src_id"),
        expr("(doc_id DIV 100) % 3").as("band"),
        split(col("text"), " ").as("t"))
      .select(col("src_id"), col("band"),
        (col("src_id") + lit(off)).as("probe_id"),
        expr(s"filter(t, tok -> md5(concat('e:', tok)) >= $thr)").as("m"))
    val psh = pr.filter(size(col("m")) >= 3)
      .select(col("probe_id"), explode(expr(
        "transform(sequence(0, size(m) - 3), i -> concat(m[i], ' ', m[i+1], ' ', m[i+2]))")).as("sh"))
      .distinct()
    val pcnt = psh.groupBy(col("probe_id")).agg(count(lit(1)).as("n_p"))
    val psig = psh.groupBy(col("probe_id")).agg(signatureColumns.head, signatureColumns.tail: _*)
    def toBands(sigs: DataFrame, id: String): DataFrame = sigs.selectExpr(
      id,
      """stack(4,
        |  0, concat(s0, s1),
        |  1, concat(s2, s3),
        |  2, concat(s4, s5),
        |  3, concat(s6, s7)) AS (lsh_band, sig)""".stripMargin)
    val cand = toBands(psig, "probe_id")
      .join(toBands(minhashSignatures(spark, sfDir), "doc_id"), Seq("lsh_band", "sig"))
      .select(col("probe_id"), col("doc_id").as("cat_id"))
      .distinct()
    // corpus shingles only for docs the eval touches: LSH-implicated
    // candidates plus the planted sources (semi-join pushdown)
    val needed = cand.select(col("cat_id").as("doc_id"))
      .unionByName(prIds.select(col("src_id").as("doc_id")))
      .distinct()
    val shd = shingleRows(
      Tables.documents(spark, sfDir).join(needed, Seq("doc_id"), "left_semi"))
      .distinct()
    val cnt = shd.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val interC = cand.as("c")
      .join(psh.as("pa"), col("c.probe_id") === col("pa.probe_id"))
      .join(shd.as("cb"), col("c.cat_id") === col("cb.doc_id") && col("pa.sh") === col("cb.sh"))
      .groupBy(col("c.probe_id").as("probe_id"), col("c.cat_id").as("cat_id"))
      .agg(count(lit(1)).as("n_inter"))
    val candV = cand
      .join(interC, Seq("probe_id", "cat_id"), "left")
      .join(pcnt, Seq("probe_id"))
      .join(cnt.select(col("doc_id").as("cat_id"), col("n_sh").as("n_c")), Seq("cat_id"))
      .select(col("probe_id"), col("cat_id"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"), col("n_p"), col("n_c"))
    // the planted pair's exact intersection: probe shingles joined to its
    // OWN source's shingles, keyed (src_id, sh) — one pair per probe
    val interP = psh
      .join(prIds.select(col("probe_id"), col("src_id")), Seq("probe_id"))
      .join(shd.select(col("doc_id").as("src_id"), col("sh")), Seq("src_id", "sh"))
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_inter"))
    val planted = prIds.select(col("probe_id"), col("src_id"), col("band"))
      .join(cnt.select(col("doc_id").as("src_id"), col("n_sh").as("n_c")), Seq("src_id"))
      .join(pcnt, Seq("probe_id"), "left")
      .join(interP, Seq("probe_id"), "left")
      .select(col("probe_id"), col("src_id"), col("band"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        coalesce(col("n_p"), lit(0L)).as("n_p"), col("n_c"))
      .withColumn("is_true", lit(3L) * col("n_inter") >= col("n_p") + col("n_c"))
    val recAgg = planted.filter(col("is_true"))
      .join(cand.select(col("probe_id"), col("cat_id").as("src_id")),
        Seq("probe_id", "src_id"), "left_semi")
      .groupBy(col("band")).agg(count(lit(1)).as("n_recovered"))
    val plAgg = planted.groupBy(col("band")).agg(
      count(lit(1)).as("n_planted"),
      sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true"))
    val cAgg = candV
      .join(prIds.select(col("probe_id"), col("band")), Seq("probe_id"))
      .withColumn("is_true", lit(3L) * col("n_inter") >= col("n_p") + col("n_c"))
      .groupBy(col("band")).agg(
        count(lit(1)).as("n_cand"),
        sum(when(col("is_true"), 1L).otherwise(0L)).as("n_cand_true"))
    plAgg
      .join(recAgg, Seq("band"), "left")
      .join(cAgg, Seq("band"), "left")
      .select(col("band"), col("n_planted"), col("n_true"),
        coalesce(col("n_recovered"), lit(0L)).as("n_recovered"),
        when(col("n_true") === 0, lit(null).cast("double"))
          .otherwise(coalesce(col("n_recovered"), lit(0L)).cast("double") /
            col("n_true").cast("double")).as("recall"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_cand_true"), lit(0L)).as("n_cand_true"),
        when(coalesce(col("n_cand"), lit(0L)) === 0, lit(null).cast("double"))
          .otherwise(coalesce(col("n_cand_true"), lit(0L)).cast("double") /
            col("n_cand").cast("double")).as("precision"))
      .orderBy(col("band"))
  }

  /** Shared verify-stage kernel for [[ngramJaccard]] / [[minhashContainment]]:
    * per banded candidate pair, the exact shingle-set intersection size and
    * both set sizes — (doc1, doc2, n_inter, n1, n2).
    */
  private def candidateOverlapCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cand = minhashCandidates(spark, sfDir)
    val nPairs = cand.count() // cheap: count over the staged parquet
    // Only docs that appear in some candidate pair need exact shingles:
    // semi-join the doc scan down to that set before exploding. At 100 TB
    // this is the difference between re-shingling the corpus and
    // re-shingling only the near-dup cluster members. Like
    // [[componentLabels]], the id set is bounded derived state: under the
    // threshold it is collected into a local relation and broadcast (one
    // cheap broadcast instead of planning a distributed union+distinct
    // subquery per use); above it, the distributed form takes over as a
    // plain shuffle semi-join — NO broadcast hint there, since forcing a
    // broadcast of an unbounded id set is a driver-OOM hazard.
    val candIds =
      if (nPairs <= 1000000L)
        broadcast(cand.select(col("doc1")).union(cand.select(col("doc2")))
          .distinct().as[Long].collect().toSeq.toDF("doc_id"))
      else
        cand.select(col("doc1").as("doc_id"))
          .union(cand.select(col("doc2").as("doc_id")))
          .distinct()
    // Materialized (not persist): sh feeds the intersection self-join's two
    // sides plus the per-doc counts — three consumers of one subplan.
    val sh = Materialize.stage(spark, s"ngram_shingles_$sfDir", sfDir) {
      shingleRows(Tables.documents(spark, sfDir).join(candIds, Seq("doc_id"), "left_semi"))
        .distinct()
    }
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(sh.as("sa"), col("doc1") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc2") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
      .groupBy(col("doc1"), col("doc2"))
      .agg(count(lit(1)).as("n_inter"))
    cand
      .join(inter, Seq("doc1", "doc2"), "left")
      .join(counts.withColumnRenamed("doc_id", "doc1").withColumnRenamed("n_sh", "n1"), Seq("doc1"))
      .join(counts.withColumnRenamed("doc_id", "doc2").withColumnRenamed("n_sh", "n2"), Seq("doc2"))
      .select(
        col("doc1"), col("doc2"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        col("n1"), col("n2"))
  }

  /** V+: MINHASH ESTIMATE AUDIT — the sketch-accuracy companion of
    * [[ngramJaccard]] (the same estimate-vs-exact pattern as
    * `cms_token_counts`): for each banded candidate pair, the MinHash
    * ESTIMATE of Jaccard — matching signature slots / 8, the unbiased
    * estimator the LSH index implicitly ranks by — next to the exact
    * 3-gram Jaccard, with the signed error. Every value is hash-safe raw
    * IEEE: n_match/8 is an exact binary fraction, exact J is one int/int
    * quotient, and the error is one exact subtraction (COVERAGE.md
    * class 2 — no rounding anywhere). Cost on top of [[ngramJaccard]] is
    * two joins against the STAGED signature table (8 minhashes per doc,
    * the standing asset the dedup family already maintains) — at 100 TB
    * this is the audit a pipeline runs on a candidate sample to pick its
    * LSH thresholds.
    */
  def minhashJaccardAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val sig = minhashSignatures(spark, sfDir)
    val matchSum = (0 until 8)
      .map(i => when(col(s"sa.s$i") === col(s"sb.s$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    ngramJaccard(spark, sfDir)
      .join(sig.as("sa"), col("doc1") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc2") === col("sb.doc_id"))
      .select(
        col("doc1"), col("doc2"), matchSum.as("n_match"),
        (matchSum.cast("double") / lit(8.0)).as("est_j"),
        col("jaccard"),
        ((matchSum.cast("double") / lit(8.0)) - col("jaccard")).as("err"))
      .orderBy(col("doc1"), col("doc2"))
  }

  /** V+: INCREMENTAL near-dup admission — [[dedupIncremental]]'s batch
    * convention (new slice = doc_id % 5 = 4) applied to NEAR-duplicates:
    * each batch document is admitted against the EXISTING corpus by a
    * banded MinHash join of batch signatures against CATALOG signatures
    * only (never catalog × catalog — the incremental property: per-batch
    * cost scales with the batch and its collisions, not the corpus), then
    * the exact 3-gram Jaccard verify ([[ngramJaccard]]'s kernel) at
    * ≥ 0.5 decides dup/new; `best_match` is the smallest verified catalog
    * id (deterministic without comparing float scores). At 100 TB the
    * catalog signature table is the standing asset a streaming corpus
    * maintains (exactly [[minhashSignatures]]' staged form) and each
    * arriving batch runs THIS plan; only implicated docs re-shingle for
    * the verify (semi-join pushdown, the [[ngramJaccard]] discipline).
    */
  def dedupIncrementalMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    val batchDocs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 5 === 4).select(col("doc_id"), col("text"))
    // the batch's signatures come for free from the staged table here; the
    // streaming form computes the identical values from the arriving rows
    val batchSigs = minhashSignatures(spark, sfDir).filter(col("doc_id") % 5 === 4)
    admitAgainstCatalog(spark, sfDir, batchDocs, batchSigs).orderBy(col("doc_id"))
  }

  /** The LSH band rows of a (doc_id, s0..s7) signature relation:
    * (doc_id, band ∈ 0..3, sig = the band's concatenated 2-hash slice).
    * THE band derivation of the near-dup gate — [[admitAgainstCatalog]]
    * derives both join sides with it, and the growing catalog
    * ([[graft.streaming.GrowingCatalog]]) stores admitted docs' bands in
    * exactly this layout, so catalog rows join arrivals with zero
    * re-derivation and the two can never drift.
    */
  private[graft] def signatureBands(sigs: DataFrame): DataFrame = sigs.selectExpr(
    "doc_id",
    """stack(4,
      |  0, concat(s0, s1),
      |  1, concat(s2, s3),
      |  2, concat(s4, s5),
      |  3, concat(s6, s7)) AS (band, sig)""".stripMargin)

  /** The shared admission KERNEL of the incremental/streaming near-dup
    * gate: decide dup/new for a batch of arriving documents against the
    * standing catalog (docs with doc_id % 5 != 4, whose staged MinHash
    * signature table is the corpus' standing asset). Used by BOTH
    * [[dedupIncrementalMinhash]] (batch form, one call over the whole
    * doc_id % 5 = 4 slice) and the streaming ingest entry
    * (`stream_dedup_minhash`: one call per micro-batch via foreachBatch) —
    * one plan, so batch/stream parity is structural, and decisions are
    * batching-invariant by construction: a doc is compared only against
    * the CATALOG, never against other arrivals.
    *
    * `batchDocs` = (doc_id, text) of the arriving documents; `batchSigs` =
    * their (doc_id, s0..s7) MinHash signatures (the batch form reads them
    * from the staged table, a stream computes them from the arriving rows
    * — same deterministic salted-md5 values either way). Output is
    * UNORDERED (doc_id, status, n_near_dups, best_match); callers order.
    *
    * `extraBands`/`extraDocs` are the GROWING-catalog extension
    * (`stream_dedup_growing`): previously-ADMITTED arrivals that have
    * joined the standing catalog — `extraBands` as (doc_id, band, sig)
    * rows in [[signatureBands]] layout (the band-key-bucketed catalog
    * asset stores exactly these, so the caller reads the pruned buckets
    * and passes them through with no re-derivation), `extraDocs` as
    * (doc_id, text), the exact-verify asset. A later arrival duplicating
    * an earlier admitted one IS caught. Duplicated rows in either
    * extension (a retried trigger's delta overlapping an already-compacted
    * base, or docs that also live in the corpus table) are harmless by
    * construction: the candidate relation and both shingle sides are
    * `.distinct()`. Static-catalog callers pass None and get the
    * batching-invariant semantics above.
    *
    * Invariant (not caller discipline): a doc is never compared against
    * ITSELF — the candidate join excludes doc_id = cat_id, so a catalog
    * that already contains the arriving batch (a micro-batch RETRY after a
    * prior attempt's catalog append) cannot flip the batch's docs to dups
    * of themselves.
    */
  private[graft] def admitAgainstCatalog(
      spark: SparkSession, sfDir: String,
      batchDocs: DataFrame, batchSigs: DataFrame,
      extraBands: Option[DataFrame] = None,
      extraDocs: Option[DataFrame] = None): DataFrame = {
    val staticBands = signatureBands(
      minhashSignatures(spark, sfDir).filter(col("doc_id") % 5 =!= 4))
    val catBands = extraBands match {
      case None => staticBands
      case Some(x) => staticBands.unionByName(
        x.select(col("doc_id"), col("band"), col("sig")))
    }
    val cand = signatureBands(batchSigs).as("a")
      .join(catBands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("cat_id"))
      .distinct()
    // only implicated docs re-shingle for the exact verify (semi-join
    // pushdown): batch side from the arriving text, catalog side from the
    // corpus — identical shingle sets for identical text
    val batchSh = shingleRows(
      batchDocs.join(cand.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi"))
      .distinct()
    val catDocs = extraDocs match {
      case None => Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      case Some(x) => Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
        .unionByName(x.select(col("doc_id"), col("text")))
    }
    val catSh = shingleRows(
      catDocs.join(
        cand.select(col("cat_id").as("doc_id")).distinct(), Seq("doc_id"), "left_semi"))
      .distinct()
    val nB = batchSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_b"))
    val nC = catSh.groupBy(col("doc_id").as("cat_id")).agg(count(lit(1)).as("n_c"))
    val inter = cand.as("c")
      .join(batchSh.as("sa"), col("c.doc_id") === col("sa.doc_id"))
      .join(catSh.as("sb"), col("c.cat_id") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
      .groupBy(col("c.doc_id").as("doc_id"), col("c.cat_id").as("cat_id"))
      .agg(count(lit(1)).as("n_inter"))
    val verified = cand
      .join(inter, Seq("doc_id", "cat_id"), "left")
      .join(nB, Seq("doc_id"))
      .join(nC, Seq("cat_id"))
      .filter(
        (coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("n_b") + col("n_c") - coalesce(col("n_inter"), lit(0L))).cast("double")) >= 0.5)
    val perDoc = verified.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_near_dups"), min(col("cat_id")).as("best_match"))
    batchDocs
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("n_near_dups").isNotNull, "dup").otherwise("new").as("status"),
        coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
        coalesce(col("best_match"), lit(-1L)).as("best_match"))
  }

  /** V+: dedup CLUSTERS — connected components over the MinHash candidate
    * pairs, the step that turns pairwise candidates into dedup groups.
    * Output: (cluster_rep = min doc_id, n_docs), clusters of size ≥ 2 only.
    */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashCandidates(spark, sfDir).select(col("doc1"), col("doc2"))
    componentLabels(spark, pairs)
      .groupBy(col("lbl").as("cluster_rep"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("cluster_rep"))
  }

  /** V+: KEEP-BEST dedup — the representative-selection policy production
    * dedup actually ships: within each near-dup cluster keep the
    * HIGHEST-QUALITY member (here: max token count, min doc_id on ties —
    * an exact-integer total order, so the choice is engine-portable),
    * not the arbitrary min-id member [[dedupClusters]] reports. Output per
    * cluster (size ≥ 2): representative label, member count, the kept doc
    * and its token mass. Scale posture: the member table is |clustered
    * docs| rows (bounded by the candidate-pair domain, not the corpus);
    * the arg-max is ONE partial-agg'd `max(struct(n_tokens, −doc_id))` —
    * no per-cluster window shuffle, and the fact scan contributes only
    * the token counts of implicated docs (semi-join pushdown via the
    * label join).
    */
  def dedupKeepBest(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashCandidates(spark, sfDir).select(col("doc1"), col("doc2"))
    val labels = componentLabels(spark, pairs)
    val docs = Tables.documents(spark, sfDir).select(
      col("doc_id"),
      expr("CAST(size(filter(split(text, ' '), x -> length(x) > 0)) AS BIGINT)").as("n_tokens"))
    labels.join(docs, labels("id") === docs("doc_id"))
      .select(col("lbl").as("cluster_rep"), col("doc_id"), col("n_tokens"))
      .groupBy(col("cluster_rep"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(struct(col("n_tokens"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(
        col("cluster_rep"), col("n_docs"),
        (-col("best.neg_id")).as("keep_id"),
        col("best.n_tokens").as("keep_tokens"))
      .orderBy(col("cluster_rep"))
  }

  /** V+: LEAKAGE-FREE train/val/test split — the contamination control a
    * training pipeline needs BEFORE sampling: a document inherits the
    * split of its near-dup CLUSTER (MinHash components; singletons are
    * their own cluster), and assignment hashes the cluster REPRESENTATIVE,
    * so two near-duplicate documents can never straddle train and test —
    * the leak a doc-level hash split silently allows (train-on-test via a
    * paraphrase). Assignment is md5-ordered (rand-free, reproducible,
    * engine-portable): hex < 'cc' → train (204/256 ≈ 80%), < 'e6' → val
    * (26/256 ≈ 10%), else test. Output: per (split, lang) doc and cluster
    * counts. Scale posture: the component labels are the bounded derived
    * state of [[componentLabels]] (small/large hybrid); everything else is
    * one broadcastable label join + a partial-agg'd count — the fact scan
    * never shuffles.
    */
  def splitNoLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    val pairs = minhashCandidates(spark, sfDir).select(col("doc1"), col("doc2"))
    val labels = componentLabels(spark, pairs)
    val rep = docs.join(labels, docs("doc_id") === labels("id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("lbl"), col("doc_id")).as("rep"))
    val h = md5(col("rep").cast("string"))
    rep
      .withColumn("split",
        when(h < lit("cc"), "train").when(h < lit("e6"), "val").otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("rep")).as("n_clusters"))
      .orderBy(col("split"), col("lang"))
  }

  /** Connected-component labels (id → min id of its component) for an edge
    * list. Two paths, chosen by edge count — the same small/large split as
    * the coreset pattern:
    *
    *  - **small** (edges fit on the driver): collect the PAIR LIST — bounded
    *    derived state, like a coreset; never raw docs — and run union-find
    *    with iterative find + path compression (no recursion: an
    *    adversarial edge order could otherwise build a ~1M-deep parent
    *    chain and overflow the stack).
    *  - **large** (100 TB path, `smallLimit` exceeded): distributed
    *    min-label propagation, one shuffle round per cluster diameter.
    *    Labels only ever decrease, so sum(lbl) is a one-aggregate
    *    convergence test (no extra change-count join). The final labels are
    *    checkpointed to files and every intermediate unpersisted — callers
    *    get a plain scan, not a leaked cache entry.
    */
  private[graft] def componentLabels(
      spark: SparkSession,
      pairDf: DataFrame,
      smallLimit: Long = 1000000L): DataFrame = {
    import spark.implicits._
    val pairs = pairDf.persist()
    try {
      val nEdges = pairs.count()
      if (nEdges <= smallLimit) {
        val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          // walk to the root, then compress the walked path in a second pass
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
          r
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        edges.flatMap(e => Seq(e._1, e._2)).distinct
          .map(id => (id, find(id))).toSeq.toDF("id", "lbl")
      } else {
        val sym = pairs.union(pairs.select(col("doc2").as("doc1"), col("doc1").as("doc2")))
        var labels = sym.select(col("doc1").as("id")).distinct()
          .withColumn("lbl", col("id")).persist()
        var lblSum = labels.agg(sum(col("lbl"))).collect()(0).getLong(0)
        var converged = false
        var iter = 0
        while (!converged && iter < 50) {
          val nbrMin = sym.join(labels, sym("doc2") === labels("id"))
            .groupBy(col("doc1")).agg(min(col("lbl")).as("nlbl"))
          val next = labels.join(nbrMin, labels("id") === nbrMin("doc1"), "left")
            .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
            .persist()
          val nextSum = next.agg(sum(col("lbl"))).collect()(0).getLong(0)
          converged = nextSum == lblSum
          lblSum = nextSum
          labels.unpersist()
          labels = next
          iter += 1
        }
        // Checkpoint to files so the loop's persisted state can be released
        // without re-running the iteration when the caller consumes us.
        val out = Materialize.checkpoint(spark, "cc_labels", labels)
        labels.unpersist()
        out
      }
    } finally pairs.unpersist()
  }

  /** V+: token counting, whitespace vs a BPE-ish regex tokenizer
    * (letter runs / digit runs / single non-alphanumeric — the GPT-2-style
    * pre-tokenization classes, simplified to a regex dialect both engines
    * share). Integer outputs → exact cross-engine.
    */
  def tokenCountRegex(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(tokens)).cast("long").as("ws_tokens"),
        sum(size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")))
          .cast("long").as("re_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))
  }

  /** V+: TOKEN CO-OCCURRENCE — the sparse AᵀA counting job behind PMI
    * tables, word-vector corpora and topic features: for every token pair
    * sharing a document, in how many documents do they co-occur. Why this
    * is NOT an n²-in-vocabulary job: pairs are generated PER DOCUMENT, so
    * the emitted volume is Σ(distinct tokens per doc)² — linear in corpus
    * size for bounded doc length, at any vocabulary. The levers that keep
    * the rest bounded:
    *  - **DF banding before pairing**: tokens in ≥2 docs (singletons can
    *    never reach the co-occurrence floor) and ≤80% of docs (the
    *    stopword cut — ubiquitous tokens pair with everything in every
    *    doc, multiplying emitted pairs and the pair table by |vocab| for
    *    zero signal). The bounds are DF-relative, so the same query is
    *    meaningful at every corpus size.
    *  - **Map-side pair generation**: per-doc kept tokens collapse to ONE
    *    sorted array (a single (doc,tok) exchange), then ordered pairs
    *    are emitted by a positional transform over that array — no
    *    self-join of the token table, and partial aggregation collapses
    *    pair counts before the final exchange. The pair-table cardinality
    *    (the real memory axis) is pruned by the count floor; a web-scale
    *    pair vocabulary would add the `heavy_hitters_tokens` Misra-Gries
    *    pass in front.
    * Output: pairs co-occurring in ≥2 docs, top-100 under a total order.
    */
  def tokenCooccurrence(spark: SparkSession, sfDir: String): DataFrame = {
    val nDocs = Tables.rowCount(spark, sfDir, "documents") // footer metadata, no job (r15)
    val tk = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()
    val df = tk.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= floor(lit(0.8) * lit(nDocs)).cast("long"))
    val kept = tk.join(df, "tok")
    val docToks = kept.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("tok"))).as("ts"))
    docToks
      .select(explode(expr(
        "flatten(transform(ts, (x, i) -> " +
          "transform(slice(ts, i + 2, size(ts)), y -> struct(x AS t1, y AS t2))))"))
        .as("p"))
      .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("t1"), col("t2"))
      .limit(100)
  }

  /** V+: POSTING LISTS — the inverted index that turns a corpus into a
    * retrieval structure: token → sorted document ids. Same DF band as
    * [[tokenCooccurrence]] ([2, 80% of docs]): singletons index nothing
    * retrievable, stopword postings are |corpus|-long lists no retrieval
    * system stores raw (they get bitmap/skip encodings — or the cap).
    * Build cost is ONE (tok, doc_id) exchange of 8-byte ids after the
    * per-doc DISTINCT (the text itself never shuffles); each list is
    * assembled by `sort_array(collect_list)` inside the token's
    * partition. At 100 TB the only extra is segmenting lists over a
    * (token, bucket) key so no single list exceeds task memory — the
    * same banding LSH uses.
    */
  def postingListsArray(spark: SparkSession, sfDir: String): DataFrame = {
    val nDocs = Tables.rowCount(spark, sfDir, "documents") // footer metadata, no job (r15)
    val tk = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()
    val df = tk.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= floor(lit(0.8) * lit(nDocs)).cast("long"))
    tk.join(df, "tok")
      .groupBy(col("tok"))
      .agg(
        count(lit(1)).cast("long").as("df"),
        sort_array(collect_list(col("doc_id"))).as("postings"))
      .orderBy(col("tok"))
  }

  /** Declared form of [[postingListsArray]]: the sorted posting list is
    * surfaced as a ','-joined string — a scalar sort key the driver's
    * pandas harness can factorize/hash (a naked ARRAY column makes its
    * lexsort throw `unhashable type: numpy.ndarray`, r9). Values are
    * identical to the array form; PostingListsSpec pins the two variants
    * equal element-for-element.
    */
  def postingLists(spark: SparkSession, sfDir: String): DataFrame =
    postingListsArray(spark, sfDir)
      .select(
        col("tok"), col("df"),
        expr("array_join(transform(postings, x -> CAST(x AS STRING)), ',')")
          .as("postings_csv"))
      .orderBy(col("tok"))

  /** V+: WEIGHTED STRATIFIED SAMPLE — per-language bottom-20 by priority
    * u/w: Ohlsson's sequential Poisson (πps) sampling, the standard
    * "sample documents proportional to length" corpus subsampler, done
    * with NO random() and NO libm. u is a deterministic integer PRN
    * (Knuth multiplicative hash mod a prime — pure 64-bit arithmetic,
    * bit-identical on every engine; `rand()` would be engine-seeded and
    * un-oracleable), w is the doc length; the priority is one IEEE
    * division of two exact integers (COVERAGE.md class 2 — `pow(u, 1/w)`
    * and `-ln(u)/w`, the textbook keys, are banned libm surfaces).
    * Bottom-k per stratum is a rank-limit window: WindowGroupLimit prunes
    * it map-side, so each partition ships ≤ k rows per stratum — the
    * deterministic, re-runnable sample a training pipeline can cite by
    * seed. Inclusion probability ≈ k·w/Σw within each stratum.
    */
  def weightedSampleStrata(spark: SparkSession, sfDir: String): DataFrame = {
    val u = (col("doc_id") * lit(2654435761L)) % lit(1000003L) + lit(1L)
    val pr = u.cast("double") / col("n_chars").cast("double")
    val byPriority = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("priority"), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), col("n_chars"), pr.as("priority"))
      .withColumn("rk", row_number().over(byPriority))
      .filter(col("rk") <= 20)
      .select(col("lang"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("rk"))
  }
}
