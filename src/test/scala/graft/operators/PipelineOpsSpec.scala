package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Specs for the extended LLM-pipeline operators: multimodal plumbing,
  * IVF similarity, simhash/fingerprint identity.
  */
class PipelineOpsSpec extends AnyFunSuite with SparkTestBase {

  test("image_ahash_near_dup: PNG round-trip preserves the closed-form hash; LSH finds the clusters") {
    // the encode→decode→hash path must reproduce the md5 closed form
    // (what the DuckDB oracle computes without ever touching a codec)
    val md = java.security.MessageDigest.getInstance("MD5")
    for (g <- Seq(0L, 7L, 23L); p <- Seq(0, 13, 63)) {
      val (b0, b1, b2, b3) = MultimodalOps.ahashBands(MultimodalOps.encodeAhashPng(g, p))
      val bs = new Array[Long](64)
      var total = 0L
      for (y <- 0 until 16; x <- 0 until 16) {
        val block = 8 * (y / 2) + (x / 2)
        val v = MultimodalOps.ahashPixel(md, g, x, y) + (if (block == p) 96 else 0)
        bs(block) += v; total += v
      }
      val want = new Array[Long](4)
      for (k <- 0 until 64) if (64L * bs(k) > total) want(k / 16) |= 1L << (k % 16)
      assert((b0, b1, b2, b3) == ((want(0), want(1), want(2), want(3))))
    }
    // same-(g,p) images are exact dups (hamming 0); the declared query's
    // pairs are canonical, thresholded, and include every same-group pair
    // whose hashes actually agree on ≥1 band
    val rows = MultimodalOps.imageAhashNearDup(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 8L)
    }
    assert(rows.exists(_.getLong(2) == 0L), "duplicate clusters must yield exact hash matches")
  }

  test("multimodal: REAL codec decode round-trips the generator parameters, deterministic") {
    val a = MultimodalOps.decodeFeatures(spark, sf0001).collect().sortBy(_.doc_id)
    val b = MultimodalOps.decodeFeatures(spark, sf0001).collect().sortBy(_.doc_id)
    // 500 docs, doc_id % 3 < 2 → image + audio rows only (no JDK mp4 codec)
    assert(a.length == 500 * 2 / 3 + 1)
    assert(a.toSeq == b.toSeq)
    a.foreach { f =>
      assert(f.n_bytes > 0)
      if (f.mime == "image/png") {
        // ImageIO.read of really-encoded PNG bytes: dimensions and the
        // constant red fill must match the generator's closed form exactly
        val (w, h) = MultimodalOps.pngDims(f.doc_id)
        assert(f.width == w && f.height == h)
        assert(f.r_mean == MultimodalOps.pngRed(f.doc_id).toDouble)
        assert(f.duration_ms == 0L && f.channels == 0)
      } else {
        // AudioSystem parse of really-encoded WAV: format + frame count
        assert(f.channels == 1 && f.sample_rate == 8000)
        assert(f.duration_ms == 100L + f.doc_id % 200)
        assert(f.width == 0 && f.height == 0)
      }
    }
  }

  test("multimodal: metadata-only query prunes the binary column from the scan") {
    val plan = MultimodalOps.multimodalMeta(spark, sf0001).queryExecution.executedPlan.toString
    // the parquet scan must read only doc_id + text (column pruning): the
    // ReadSchema in the scan node is the ground truth
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), plan)
    assert(!readSchema.contains("lang") && !readSchema.contains("source") && !readSchema.contains("n_chars"),
      s"unpruned scan: $readSchema")
  }

  test("multimodal: real resize rescales pixels; audio frame sampling is frame-aligned") {
    // REAL rescale: 100×40 red PNG → bounded to 64×64, aspect preserved,
    // decode of the resized bytes reports the new dimensions + same fill
    val png = MultimodalOps.encodePng(100, 40, 200, 10, 10)
    val (resized, w, h) = MultimodalOps.resizeImage(png, 64, 64)
    assert(w == 64 && h == 25) // 100×40 scaled by 0.64
    val (dw, dh, rMean) = MultimodalOps.decodeImage(resized)
    assert(dw == 64 && dh == 25)
    assert(math.abs(rMean - 200.0) < 1.0) // bilinear over a constant fill
    // REAL audio sampling: windows are PCM-frame-aligned (16-bit mono → 2B)
    val wav = MultimodalOps.encodeWav(800, seed = 7L)
    val frames = MultimodalOps.sampleAudioFrames(wav, 4)
    assert(frames.length == 4)
    assert(frames.map(_.length).sum == 1600) // all 800 frames, no header bytes
    assert(frames.forall(_.length % 2 == 0))
    assert(frames.map(_.toSeq) == MultimodalOps.sampleAudioFrames(wav, 4).map(_.toSeq))
    // generic byte windows (the no-codec fallback) stay bounded
    val bw = MultimodalOps.byteWindows("opaque container bytes".getBytes("UTF-8"), 4)
    assert(bw.length == 4 && bw.map(_.length).sum <= 22)

    val ff = MultimodalOps.frameFeatures(spark, sf0001).collect()
    assert(ff.nonEmpty)
    // only audio media yields frames; frame_no bounded by the sample size
    assert(ff.forall(r => r.getString(1) == "audio/wav"))
    assert(ff.forall(r => r.getLong(2) >= 0 && r.getLong(2) < 4))
    assert(ff.forall(r => r.getString(4).length == 32))
  }

  test("cos_topk_ivf: results are a subset-quality approximation of exact top-k") {
    val exact = VectorOps.cosTopk(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = VectorOps.cosTopkIvf(spark, sf0001).collect()
    assert(ivf.nonEmpty)
    // every query gets exactly 5 (enough candidates exist in 5/16 buckets)
    val perQ = ivf.groupBy(_.getLong(0))
    assert(perQ.forall(_._2.length == 5))
    // recall@5 against exact should be well above chance (> 40%)
    val hits = ivf.count(r => exact.contains((r.getLong(0), r.getLong(2))))
    assert(hits.toDouble / ivf.length > 0.4, s"IVF recall ${hits.toDouble / ivf.length}")
  }

  test("cos_topk_ivf_kmeans: learned-quantizer IVF beats chance recall, deterministic") {
    val exact = VectorOps.cosTopk(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val a = VectorOps.cosTopkIvfKmeans(spark, sf0001).collect()
    val b = VectorOps.cosTopkIvfKmeans(spark, sf0001).collect()
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    // measured 0.536 at sf0.001 with 4/16 probes; chance would be ~5/500
    val hits = a.count(r => exact.contains((r.getLong(0), r.getLong(2))))
    assert(hits.toDouble / a.length > 0.35, s"k-means IVF recall ${hits.toDouble / a.length}")
  }

  test("cos_topk_rplsh: data-independent LSH beats chance recall, deterministic") {
    val exact = VectorOps.cosTopk(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val a = VectorOps.cosTopkRplsh(spark, sf0001).collect()
    val b = VectorOps.cosTopkRplsh(spark, sf0001).collect()
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    // L=6 tables × B=9 sign bits with query-directed multiprobe (9 single
    // flips + C(7,2)=21 pair flips of the lowest-|margin| bits); measured
    // 0.692 at sf0.001 / 0.784 at sf0.1 / 0.868 at sf1 (EXPERIMENTS.md
    // r12 grid) — the floor is 0.5 with a real margin; chance is ~5/500.
    val hits = a.count(r => exact.contains((r.getLong(0), r.getLong(2))))
    assert(hits.toDouble / a.length > 0.5, s"RP-LSH recall ${hits.toDouble / a.length}")
  }

  test("cos_topk_pq: ADC re-rank recall beats the LSH floor, deterministic") {
    val exact = VectorOps.cosTopk(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val a = VectorOps.cosTopkPq(spark, sf0001).collect()
    val b = VectorOps.cosTopkPq(spark, sf0001).collect()
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    assert(a.nonEmpty && a.length <= 250)
    // 8 subspaces × 16 codewords reconstruct enough of the dot product
    // that the exact re-rank of the ADC top-32 recovers well over the
    // RP-LSH floor (codebooks are TRAINED, unlike the hyperplane draws);
    // chance is ~5/500.
    val hits = a.count(r => exact.contains((r.getLong(0), r.getLong(2))))
    assert(hits.toDouble / a.length > 0.30, s"PQ recall ${hits.toDouble / a.length}")
  }

  test("bpe_pair_stats: pairs match a lead()-window recount; counts bounded by token count") {
    import org.apache.spark.sql.expressions.Window
    // Independent recount on the engine side with the oracle's OWN plan
    // shape (posexplode + lead window) — catches an off-by-one in the
    // positional transform that DuckDB agreement alone would share if the
    // SQL had the same bug.
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val viaWindow = graft.sources.Tables.documents(spark, sf0001)
      .filter(col("lang") === "en")
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
      .withColumn("pair", concat_ws(" ", col("tok"), lead(col("tok"), 1).over(w)))
      .filter(col("pair").contains(" "))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(30)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val viaTransform = TextOps.bpePairStats(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaTransform == viaWindow)
  }

  test("scd2_users: snapshot has one row per covered user; intervals are change points") {
    val snap = EventOps.scd2Users(spark, sf0001).collect()
    assert(snap.nonEmpty)
    val users = snap.map(_.getLong(0))
    assert(users.distinct.length == users.length, "duplicate user in as-of snapshot")
    // every snapshot state is a real event_type value and versions are ≥ 1
    val types = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type")).distinct().collect().map(_.getString(0)).toSet
    assert(snap.forall(r => types(r.getString(1)) && r.getLong(2) >= 1L))
  }

  test("agg_incremental_users: merged partials == full recompute") {
    val merged = EventOps.aggIncrementalUsers(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val cents = expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
    val full = graft.sources.Tables.events(spark, sf0001)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(cents).as("sum_cents"))
      .withColumn("avg_cents", col("sum_cents").cast("double") / col("n_events").cast("double"))
      .orderBy(col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(merged == full)
  }

  test("minhash: 8 independent seeded permutations catch a near-dup the old correlated windows missed") {
    import spark.implicits._
    // Pinned pair: 20-token doc vs the same doc with tokens 9 and 11
    // replaced — exact 3-gram Jaccard 13/23 ≈ 0.565, a true near-dup.
    val base = (0 until 20).map(i => f"tok$i%02d")
    val varr = base.updated(9, "alt0029_9").updated(11, "alt0029_11")
    val docs = Seq((1L, base.mkString(" ")), (2L, varr.mkString(" ")), (3L, base.mkString(" ")))
      .toDF("doc_id", "text")

    val shingled = docs.select(col("doc_id"), explode(expr(
      """transform(sequence(0, size(split(text, ' ')) - 3),
        |  i -> concat(split(text, ' ')[i], ' ', split(text, ' ')[i+1], ' ', split(text, ' ')[i+2]))"""
        .stripMargin)).as("sh"))
    def bandPairs(sigRows: Array[org.apache.spark.sql.Row]): Map[Long, Seq[String]] =
      sigRows.map { r =>
        r.getLong(0) -> (0 until 4).map(b => r.getString(1 + 2 * b) + r.getString(2 + 2 * b))
      }.toMap

    // NEW scheme (the shipped one): 8 salted-md5 permutations, b=4 × r=2.
    val nu = bandPairs(TextOps.signatures(docs).collect())
    assert((nu(1L) zip nu(2L)).exists { case (a, b) => a == b },
      s"independent banding should catch the J=0.565 pair: ${nu(1L)} vs ${nu(2L)}")
    assert(nu(1L) == nu(3L), "exact duplicates always collide on every band")

    // OLD scheme (replicated inline): 4 windows of ONE md5 + their hex
    // reversals — bands 2-3 collide iff bands 0-1 do, so only 2 effective
    // bands. It misses this pair; the round-8 independent draws catch it.
    val m1 = md5(col("sh"))
    val old = bandPairs(shingled.groupBy(col("doc_id")).agg(
      min(substring(m1, 1, 8)).as("s0"), min(substring(m1, 9, 8)).as("s1"),
      min(substring(m1, 17, 8)).as("s2"), min(substring(m1, 25, 8)).as("s3"),
      min(reverse(substring(m1, 1, 8))).as("s4"), min(reverse(substring(m1, 9, 8))).as("s5"),
      min(reverse(substring(m1, 17, 8))).as("s6"), min(reverse(substring(m1, 25, 8))).as("s7"))
      .collect())
    assert(!(old(1L) zip old(2L)).exists { case (a, b) => a == b },
      "the correlated-window scheme misses this near-dup (that is the recall gap being fixed)")
  }

  test("dedup_clusters: components absorb every candidate pair; reps are minimal") {
    val pairs = TextOps.dedupDocsMinhash(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = TextOps.dedupClusters(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.map(_._2).sum == pairs.flatMap(p => Seq(p._1, p._2)).distinct.length)
    // union-find ground truth over the pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .groupBy(find).map { case (_, ms) => (ms.min, ms.length.toLong) }.toSet
    assert(clusters.toSet == truth)
  }

  test("dedup_clusters: driver union-find path == distributed label-propagation path") {
    val pairs = TextOps.dedupDocsMinhash(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("doc1"), org.apache.spark.sql.functions.col("doc2"))
    val small = TextOps.componentLabels(spark, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dist = TextOps.componentLabels(spark, pairs, smallLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(small == dist)
    assert(small.nonEmpty)
  }

  test("componentLabels: >1M edges crosses the gate into distributed propagation (closed-form graph)") {
    // 1000 star clusters of 1200 nodes: 1,199,000 edges — past the 1M
    // driver-gate, so this runs the min-label-propagation branch AT its
    // real threshold (not via a forced smallLimit). Star diameter 2 keeps
    // iterations bounded; the expected labels have a closed form.
    val size = 1200L
    val clusters = 1000L
    val edges = spark.range(clusters * size)
      .filter(col("id") % size =!= 0)
      .select((col("id") - (col("id") % size)).as("doc1"), col("id").as("doc2"))
    val labels = TextOps.componentLabels(spark, edges)
    assert(labels.count() == clusters * size)
    assert(labels.filter(col("lbl") =!= col("id") - (col("id") % size)).count() == 0)
    assert(labels.select(col("lbl")).distinct().count() == clusters)
  }

  test("coreset p-invariance at fixture scale: p=1 and p=32 select the same k=32 (sf0.1)") {
    // sf0.1 has 2000 vectors: at p=32 every partition holds ~62 < k'=64
    // points, so local coresets COVER their partitions and the composable
    // coreset is exact; at p=1 the single local GMM(64) is a prefix of the
    // same greedy order. Both must replay the identical k=32 selection —
    // end-to-end through the shuffle/collect serialization boundary, so a
    // kernel edit that breaks 12-dp rounding determinism fails here at
    // fixture scale, not only on the small generator props.
    import graft.diversity.{Gmm, Pt}
    val sf01 = "/root/testdata/sf0.1"
    val a = DiversityOps.coresetAt(spark, sf01, 1).map(w => Pt(w.id, w.vec))
    val b = DiversityOps.coresetAt(spark, sf01, 32).map(w => Pt(w.id, w.vec))
    val selA = Gmm.select(a, 32).map(_.id)
    val selB = Gmm.select(b, 32).map(_.id)
    assert(selA == selB, s"p=1 selected $selA, p=32 selected $selB")
  }

  test("diverse_by_label: deterministic, per-label budget and mass, kernels from own class") {
    val a = DiversityOps.diverseByLabel(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val b = DiversityOps.diverseByLabel(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(a == b, "per-label coreset must not depend on scheduling")
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("label").cast("long"), col("vec_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byLabel = emb.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val groups = a.groupBy(_._1)
    assert(groups.keySet == byLabel.keySet, "every label gets a coreset")
    groups.foreach { case (l, ks) =>
      assert(ks.length <= 16, s"label $l kernel budget exceeded: ${ks.length}")
      assert(ks.map(_._3).sum == byLabel(l).size, s"label $l weight mass mismatch")
      assert(ks.forall(k => byLabel(l)(k._2)), s"label $l kernel from another class")
    }
  }

  test("diverse_by_label: two-stage partial merge == single-pass per-label fold") {
    import graft.diversity.{Pt, StreamingCoreset}
    // The label shuffle is the degenerate two-stage merge: one partial per
    // label, holding all its points in ascending vec_id, so the output must
    // be bit-identical to the flat ascending-id fold per label.
    val pts = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("label").cast("long"), col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray))
    val expected = pts.groupBy(_._1).toSeq.flatMap { case (l, ps) =>
      val cs = new StreamingCoreset(16)
      ps.sortBy(_._2).foreach(p => cs.update(Pt(p._2, p._3)))
      cs.result().map(k => (l, k.id, k.weight))
    }.sortBy(t => (t._1, t._2))
    val got = DiversityOps.diverseByLabel(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected, "per-label coreset diverged from the sequential fold")
  }

  test("curate_corpus_k16: composed pipeline is deterministic and respects its own gates") {
    import org.apache.spark.sql.functions._
    val a = graft.operators.DiversityOps.curateCorpusK16(spark, sf0001).collect()
    val b = graft.operators.DiversityOps.curateCorpusK16(spark, sf0001).collect()
    assert(a.length == 16 && a.map(_.getLong(1)).distinct.length == 16)
    assert(a.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      b.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // every selected doc passes the quality gate and is its text's min-doc_id survivor
    val chosen = a.map(_.getLong(1)).toSet
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("double"))
      .withColumn("ttr", size(array_distinct(col("toks"))).cast("double") / col("n_tokens"))
    val gate = docs.filter(col("n_tokens") >= 8 && col("ttr") >= 0.3)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .collect().map(_.getLong(1)).toSet
    assert(chosen.subsetOf(gate))
  }

  test("curate dedup stage: no raw text in any exchange (fingerprint shuffle + broadcast semi-join)") {
    val df = graft.operators.DiversityOps.curateSurvivorDocs(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    // survivor texts come back through a broadcast semi-join on doc_id ...
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    // ... so the only shuffle-style exchange anywhere would be the staged
    // fingerprint groupBy, which happened at stage() time; the consuming
    // plan itself must carry none at all.
    assert(!p.contains("Exchange hashpartitioning"), p)
    // and the output matches the old groupBy(text) dedup exactly
    import org.apache.spark.sql.functions._
    val viaText = graft.sources.Tables.documents(spark, sf0001)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("double"))
      .withColumn("ttr", size(array_distinct(col("toks"))).cast("double") / col("n_tokens"))
      .filter(col("n_tokens") >= 8 && col("ttr") >= 0.3)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(df.select(col("doc_id")).collect().map(_.getLong(0)).toSet == viaText)
  }

  test("embedding_near_dup: pairs are bucket-consistent and symmetric-free") {
    val rows = VectorOps.embeddingNearDup(spark, sf0001).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.distinct.length == pairs.length)
    rows.foreach(r => assert(r.getDouble(2) >= 0.3))
  }

  test("embedding_near_dup: adaptive-B recall floor vs brute force; B pins occupancy") {
    val got = VectorOps.embeddingNearDup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val brute = emb.as("a").join(emb.as("b2"), col("a.vec_id") < col("b2.vec_id"))
      .withColumn("sim", round(expr("dot_f32(a.embedding, b2.embedding)"), 6))
      .filter(col("sim") >= 0.3)
      .select(col("a.vec_id"), col("b2.vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Exact rescore ⇒ no false positives; (L=4, B=4) at fixture scale:
    // the weakest admitted pair (sim .3) agrees per bit w.p.
    // p = 1 − acos(.3)/π ≈ .60, so union recall ≈ 1 − (1 − p⁴)⁴ ≈ .42 —
    // floor at .30.
    assert(got.subsetOf(brute))
    assert(brute.nonEmpty && got.size.toDouble / brute.size > 0.30,
      s"recall ${got.size.toDouble / brute.size} over ${brute.size} true pairs")
    // The width knob: ⌊log₂ n⌋ − 6 clamped to [4, 16] pins expected
    // bucket occupancy near 2^6 across decades of n (16 = the full sign
    // entropy of a band's 16-dim slice; raised from 14 in r13 when the
    // sf100 probe showed the clamp doubling occupancy at 2M vectors).
    assert(VectorOps.nearDupBits(500L) == 4)
    assert(VectorOps.nearDupBits(20000L) == 8)
    assert(VectorOps.nearDupBits(100000000L) == 16)
  }

  test("split_no_leakage: deterministic; near-dup clusters never straddle splits; masses sane") {
    import graft.operators.TextOps
    val a = TextOps.splitNoLeakage(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val b = TextOps.splitNoLeakage(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(a == b, "split assignment must be reproducible")
    val total = graft.sources.Tables.documents(spark, sf0001).count()
    assert(a.map(_._3).sum == total, "every document lands in exactly one split")
    // the whole point: recompute per-doc (rep, split) and check that no
    // CLUSTER maps to two splits — the doc-level-hash leak this op closes
    val perDoc = {
      val docs = graft.sources.Tables.documents(spark, sf0001).select(col("doc_id"))
      val labels = TextOps.componentLabels(spark,
        TextOps.minhashCandidates(spark, sf0001).select(col("doc1"), col("doc2")))
      docs.join(labels, docs("doc_id") === labels("id"), "left")
        .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("rep"))
        .withColumn("h", md5(col("rep").cast("string")))
        .withColumn("split",
          when(col("h") < lit("cc"), "train")
            .when(col("h") < lit("e6"), "val").otherwise("test"))
        .collect().map(r => (r.getLong(1), r.getString(3)))
    }
    perDoc.groupBy(_._1).foreach { case (rp, docs) =>
      assert(docs.map(_._2).distinct.length == 1, s"cluster $rp straddles splits")
    }
    // md5 split masses: train ≈ 80% — loose bound, the fixture is small
    val byCat = a.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(byCat("train") > byCat.getOrElse("val", 0L) + byCat.getOrElse("test", 0L))
  }

  test("dedup_incremental_minhash: planted dup admits as dup, unique as new; batch-only output") {
    import spark.implicits._
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    Seq(
      (1L, t, "en", "src0", t.length.toLong),                       // catalog copy
      (4L, t, "en", "src1", t.length.toLong),                       // batch: exact dup of 1
      (9L, "quark boson lepton hadron gluon photon meson baryon", "en", "src2", 48L), // batch: unique
      (2L, "one two three four five six seven eight nine ten", "en", "src3", 49L)     // catalog noise
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs3/documents.parquet")
    val rows = graft.operators.TextOps.dedupIncrementalMinhash(spark, "/tmp/graft_test_docs3")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // only batch docs (doc_id % 5 == 4) appear
    assert(rows.map(_._1) == Seq(4L, 9L))
    assert(rows(0) == ((4L, "dup", 1L, 1L)), s"exact dup must admit as dup: ${rows(0)}")
    assert(rows(1) == ((9L, "new", 0L, -1L)), s"unique doc must admit as new: ${rows(1)}")
  }

  test("ngram_counts: order-1 equals textTokens' table; prefix counts dominate") {
    import graft.operators.TextOps
    val rows = TextOps.ngramCounts(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(rows.length == 30 && rows.map(_._1).distinct.sorted == Seq(1L, 2L, 3L))
    // the unified table's order-1 slice must be exactly the dedicated op
    val uni = TextOps.textTokens(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).take(10).toSeq
    assert(rows.filter(_._1 == 1L).sortBy(_._2).map(t => (t._3, t._4)) == uni)
    // an n-gram can never outnumber its own (n-1)-gram prefix — count the
    // prefix of each top trigram directly against the corpus
    val bi = rows.filter(_._1 == 2L).map(t => t._3 -> t._4).toMap
    rows.filter(_._1 == 3L).foreach { case (_, _, g, c) =>
      val prefix = g.split(" ").take(2).mkString(" ")
      bi.get(prefix).foreach(pc => assert(c <= pc, s"trigram '$g' ($c) > bigram '$prefix' ($pc)"))
    }
  }

  test("modality_coverage: masses reconcile with the raw tables") {
    import graft.operators.VectorOps
    val rows = VectorOps.modalityCoverage(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val docs = graft.sources.Tables.documents(spark, sf0001).count()
    val paired = graft.sources.Tables.documents(spark, sf0001).select(col("doc_id"))
      .join(graft.sources.Tables.embeddings(spark, sf0001).select(col("vec_id")),
        col("doc_id") === col("vec_id")).count()
    assert(rows.map(_._2).sum == docs)
    assert(rows.map(_._3).sum == paired)
    rows.foreach { case (l, n, w, c) =>
      assert(w <= n && c >= 0.0 && c <= 1.0, s"$l: $w/$n cov=$c")
      assert(c == w.toDouble / n.toDouble, s"$l coverage must be the exact quotient")
    }
  }

  test("dedup_docs_simhash: identical texts share a simhash bucket") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(
      (1L, text, "en", "src0", text.length.toLong),
      (2L, text, "en", "src1", text.length.toLong),
      (3L, "pager turbine acorn velvet mosaic lantern quill ember", "en", "src2", 53L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs2/documents.parquet")
    val buckets = TextAnalysisOps.dedupDocsSimhash(spark, "/tmp/graft_test_docs2").collect()
    assert(buckets.length == 1 && buckets(0).getLong(1) == 2L)
  }

  test("ngram_jaccard: identical texts score 1.0; unrelated candidates score low") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(
      (1L, text, "en", "src0", text.length.toLong),
      (2L, text, "en", "src1", text.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs4/documents.parquet")
    val rows = TextOps.ngramJaccard(spark, "/tmp/graft_test_docs4").collect()
    assert(rows.length == 1)
    assert((rows(0).getLong(0), rows(0).getLong(1)) == (1L, 2L))
    assert(rows(0).getDouble(3) == 1.0)
  }

  test("minhash_containment: prefix doc fully contained in its superset, not vice versa") {
    import spark.implicits._
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val short = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(
      (1L, short, "en", "src0", short.length.toLong),
      (2L, long, "en", "src1", long.length.toLong),
      (3L, short, "en", "src2", short.length.toLong) // exact dup of 1
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs5/documents.parquet")
    val rows = TextOps.minhashContainment(spark, "/tmp/graft_test_docs5").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(3), r.getDouble(4), r.getLong(5))).toMap
    // exact dup pair: both directions 1.0, contained
    assert(rows((1L, 3L)) == ((1.0, 1.0, 1L)))
    // prefix pair (if banding surfaced it): short-in-long direction is 1.0,
    // reverse is the shingle ratio 8/18 < 0.9 — flag still fires on max
    rows.get((1L, 2L)).foreach { case (fwd, rev, flag) =>
      assert(fwd == 1.0 && rev < 0.9 && flag == 1L)
    }
    // every ratio is a valid containment
    rows.values.foreach { case (f, r, _) =>
      assert(f >= 0.0 && f <= 1.0 && r >= 0.0 && r <= 1.0)
    }
  }

  test("doc_fingerprint: order-sensitive, content-defined") {
    import spark.implicits._
    Seq(
      (1L, "a b c", "en", "s", 5L),
      (2L, "a b c", "en", "s", 5L), // same content -> same fp
      (3L, "c b a", "en", "s", 5L)  // same tokens, different order -> different fp
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs3/documents.parquet")
    val fps = TextAnalysisOps.docFingerprint(spark, "/tmp/graft_test_docs3")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("diverse_docs_k16: deterministic, never picks both members of an exact-dup pair early") {
    val a = DiversityOps.diverseDocsK16(spark, sf0001).collect().map(_.getLong(1)).toSeq
    val b = DiversityOps.diverseDocsK16(spark, sf0001).collect().map(_.getLong(1)).toSeq
    assert(a.length == 16 && a.distinct.length == 16)
    assert(a == b)

    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta"
    Seq(
      (1L, text, "en", "s", text.length.toLong),
      (2L, text, "en", "s", text.length.toLong),
      (3L, "one two three four five six", "en", "s", 27L),
      (4L, "red green blue cyan magenta yellow", "en", "s", 34L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs5/documents.parquet")
    val sel = DiversityOps.diverseDocsK16(spark, "/tmp/graft_test_docs5")
      .collect().map(_.getLong(1)).toSeq
    // dup docs (1,2) are at Jaccard distance 0: the second dup must be the
    // LAST pick (all distinct docs are farther than an exact duplicate)
    assert(sel.take(3).toSet == Set(1L, 3L, 4L))
    assert(sel.last == 2L)
  }

  test("label_centroids: Aggregator == explode plan, bit-stable under repartitioning") {
    val viaAgg = VectorOps.labelCentroids(spark, sf0001).collect().toSeq
    // The naive d-fold explode plan the Aggregator exists to avoid — same
    // quantizer, same grouping; must agree exactly.
    val naive = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)")).as("sum_q"))
      .select(col("label"), col("dim").cast("long").as("dim"),
        col("n_rows"), col("sum_q"),
        (col("sum_q").cast("double") /
          (col("n_rows") * lit(1000000L)).cast("double")).as("centroid"))
      .orderBy(col("label"), col("dim"))
      .collect().toSeq
    assert(viaAgg.nonEmpty && viaAgg == naive)
    // Merge correctness: integer partial states make the result invariant
    // to how rows are split across partitions (different merge trees).
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val dims = emb.select(size(col("embedding")).as("d")).first().getInt(0)
    def run(parts: Int) = emb.repartition(parts)
      .select(col("label"), col("embedding")).as[(Int, Array[Float])]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new graft.functions.LabelCentroidAgg(dims).toColumn.name("state"))
      .toDF("label", "state")
      .select(col("label"), col("state.n"), col("state.sums"))
      .orderBy(col("label"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2))).toSeq
    assert(run(1) == run(7))
  }

  test("lang_id_confusion: every doc is classified exactly once") {
    val rows = TextAnalysisOps.langIdConfusion(spark, sf0001).collect()
    val total = rows.map(_.getLong(2)).sum
    assert(total == 500L)
    val langs = TextAnalysisOps.langKeywords.map(_._1).toSet
    rows.foreach { r =>
      assert(langs.contains(r.getString(0)) && langs.contains(r.getString(1)))
    }
  }

  test("kmeans_lloyd: objective never increases, mass conserved, bit-stable across runs") {
    val a = VectorOps.kmeansLloyd(spark, sf0001).collect()
    assert(a.length == 24) // 3 iterations × 8 cells
    val byIter = a.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    // Lloyd guarantee: total assignment WCSS is non-increasing
    val wcss = byIter.map(_._2.map(_.getLong(3)).sum)
    assert(wcss == wcss.sorted.reverse, s"objective increased: $wcss")
    assert(wcss.head > wcss.last, "refinement did no work at all")
    // every point assigned to exactly one cell, every iteration
    byIter.foreach { case (_, g) => assert(g.map(_.getLong(2)).sum == 500L) }
    // exact micro-unit algebra ⇒ a second run is bit-identical
    val b = VectorOps.kmeansLloyd(spark, sf0001).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }
}
