package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-sweep canary: the heavy dedup/ANN/windowing/attribution
  * shapes run at synthetic ×1/×3/×9 input scale and the fitted
  * time-vs-size exponent must stay near linear. The guard is against
  * CATASTROPHIC growth — an accidental all-pairs join or per-row
  * recomputation shows an exponent ≥ ~2 at these sizes, far above the
  * 1.45 gate; log-factor growth (CC rounds, sort shuffles) and the
  * fixed-overhead floor both sit well below it. Scaled copies are
  * SALTED so they don't near-duplicate each other (inter-copy token /
  * rotation perturbation), keeping output volume — and thus true
  * per-row work — linear in the input.
  *
  * Streaming ops are represented by their batch twins (attribution,
  * sessionization): each streaming flavor's per-batch work is the same
  * kernel, and its STATE bound is pinned separately in StreamingSpec /
  * StressSpec.
  */
class ScaleSweepSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"

  private def timed(f: => Long): Double = {
    val t0 = System.nanoTime()
    val n = f
    assert(n > 0L, "scaled op produced no rows")
    (System.nanoTime() - t0) / 1e9
  }

  /** Least-squares slope of ln t over ln s. */
  private def exponent(pts: Seq[(Double, Double)]): Double = {
    val xs = pts.map(p => math.log(p._1))
    val ys = pts.map(p => math.log(math.max(p._2, 1e-4)))
    val mx = xs.sum / xs.length
    val my = ys.sum / ys.length
    val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val den = xs.map(x => (x - mx) * (x - mx)).sum
    num / den
  }

  private def sweep(name: String, run: Int => Long): Unit = {
    run(1) // warm-up: JIT + plan caches
    // clear the cache BETWEEN points, not just after the sweep: several
    // ops cache eagerly inside their plan and never unpersist (their
    // returned frame still references the cache), so without a sweep-
    // point sweep the ×9 run executes under the accumulated storage
    // pressure of warm-up + ×1 + ×3 — a measurement artifact, not a
    // scaling signal (same per-query posture as Bench).
    spark.catalog.clearCache()
    val pts = Seq(1, 3, 9).map { s =>
      val p = (s.toDouble, timed(run(s)))
      spark.catalog.clearCache()
      p
    }
    val e = exponent(pts)
    info(f"$name: ${pts.map(p => f"${p._2}%.2f s").mkString(" / ")} → exponent $e%.2f")
    assert(e <= 1.45, f"$name scales super-linearly: exponent $e%.2f over $pts")
  }

  /** ×s docs; every copy's words interleaved with a copy token so no
    * shingle crosses copies (keeps near-dup volume linear).
    */
  private def scaledDocs(s: Int): DataFrame =
    (0 until s).map { i =>
      Tables.documents(spark, dir).select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"),
        regexp_replace(col("text"), " ", s" z${i}q ").as("text"))
    }.reduce(_ unionByName _)

  /** ×s embeddings; each copy circularly rotated i positions so copies
    * of one vector are near-orthogonal, not near-duplicates.
    */
  private def scaledEmb(s: Int): DataFrame =
    (0 until s).map { i =>
      Tables.table(spark, dir, "embeddings").select(
        (col("vec_id") + lit(i * 1000000L)).as("vec_id"),
        expr(s"concat(slice(embedding, ${i + 1}, size(embedding) - $i), " +
          s"slice(embedding, 1, $i))").as("embedding"))
    }.reduce(_ unionByName _)

  test("MinHash LSH dedup stays near-linear under ×9 salted scale") {
    sweep("minhash_lsh", s => graft.ops.Dedup.minhashLshPairs(
      graft.ops.TextOps.shingleTable(scaledDocs(s), "doc_id", "text", 3),
      "doc_id", bands = 8, minJaccard = 0.5).count() + 1)
  }

  test("connected components stay near-linear on a ×9 path graph") {
    sweep("connected_components", s => graft.ops.Dedup.connectedComponents(
      spark.range(100000L * s - 1).select(col("id").as("a"), (col("id") + 1L).as("b")),
      "a", "b", maxIter = 30).count())
  }

  test("IVF embedding near-dup pairs stay near-linear under ×9 rotated scale") {
    sweep("ivf_near_dup", s => graft.ops.Similarity.ivfNearDupPairs(
      scaledEmb(s), "vec_id", "embedding", minCos = 0.85).count() + 1)
  }

  test("L132 greedy coreset stays near-linear under ×9 scale (checkpoint truncation holds)") {
    // each of the 3 selection waves is one corpus pass; a localCheckpoint
    // regression (wave w re-running wave w-1) would push the exponent up
    sweep("coreset_fps", s => graft.ops.Similarity.coresetGreedy(
      graft.ops.Similarity.quantize(scaledEmb(s), "vec_id", "embedding"),
      "vec_id", 4).count())
  }

  test("L126 semantic decontamination stays near-linear under ×9 scale") {
    sweep("semantic_decon", s => {
      val q = graft.ops.Similarity.quantize(scaledEmb(s), "vec_id", "embedding")
      val cells = graft.ops.Similarity.ivfCells(q, "vec_id")
      graft.ops.Similarity.semanticDecontaminate(
        cells, q, "vec_id", probeMod = 37L, minCos = 0.30).count() + 1
    })
  }

  test("sessionization windows stay near-linear under ×9 key scale") {
    sweep("sessionize", s => {
      val ev = (0 until s).map { i =>
        val e = Tables.events(spark, dir)
        e.select(
          (col("user_id") + lit(i * 1000000000L)).as("k"),
          Tables.tsUs(e).as("tus"))
      }.reduce(_ unionByName _)
      graft.ops.SegmentOps.sessionizePoints(ev, "k", "tus", "tus",
        lit(3600000000L)).agg(max(col("session_id"))).head.getLong(0)
    })
  }

  test("multi-touch attribution stays near-linear under ×9 key scale") {
    sweep("attribution", s => {
      val base = spark.range(2000L * s * 50L).select(
        expr("id div 50").as("k"),
        col("id").as("touchId"),
        (col("id") % 50L * 60000000L).as("tus"))
      val touches = base.filter(col("touchId") % 50L =!= 49L)
      val convs = base.filter(col("touchId") % 50L === 49L)
        .select(col("k"), col("touchId").as("convId"), col("tus"),
          (col("touchId") % 1000L + 100L).as("cents"))
      graft.ops.EventAnalytics.linearAttribution(touches, convs, "k",
        windowUs = 1800000000L).count()
    })
  }

  test("pageRank stays near-linear under ×9 node scale") {
    // synthetic digraph, constant out-degree 2 (|E| = 2|V|): per
    // iteration work is one edge join + one sum, so time must track |V|
    sweep("pagerank", s => {
      val n = 20000L * s
      val e1 = spark.range(n).select(col("id").as("src"),
        ((col("id") * 7L + 1L) % n).as("dst"))
      val e2 = spark.range(n).select(col("id").as("src"),
        ((col("id") * 13L + 5L) % n).as("dst"))
      graft.ops.GraphOps.pageRank(e1.unionByName(e2), "src", "dst", iters = 2)
        .count()
    })
  }

  test("labelPropagation stays near-linear under ×9 node scale") {
    // ring + chord graph, constant degree: vote volume is linear in |V|
    sweep("label_propagation", s => {
      val n = 20000L * s
      val ring = spark.range(n).select(col("id").as("a"),
        ((col("id") + 1L) % n).as("b"))
      val chord = spark.range(n).select(col("id").as("a"),
        ((col("id") * 3L + 7L) % n).as("b"))
      graft.ops.GraphOps.labelPropagation(
          ring.unionByName(chord).filter(col("a") =!= col("b")),
          "a", "b", iters = 2)
        .count()
    })
  }

  test("substring dup spans stay near-linear under ×9 salted scale") {
    // grams from different copies never match (each copy's token salt is
    // part of every 10-gram), so true span volume is s× the original
    sweep("substring_spans", s => graft.ops.Dedup.substringDupSpans(
      scaledDocs(s), "doc_id", "text", k = 10).count() + 1)
  }

  test("watermarked streaming attribution stays near-linear under ×9 scale") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.TemporalEnrich
    sweep("streaming_attribution_wm", s => {
      // 600·s keys × (19 touches + 1 conversion), micros riding the
      // millis clock like the registered streaming_attribution query;
      // one far-future conversion heartbeat advances the watermark past
      // every real event so the timeout batch flushes all credits
      val base = spark.range(600L * s * 20L).select(
        expr("id div 20").cast("string").as("k"),
        timestamp_millis((col("id") % 20L) * 60000000L + 60000000L).as("ts"),
        (col("id") % 20L === 19L).as("isConv"),
        col("id").as("tie"),
        (col("id") % 100L + 1L).as("cents"))
      val heartbeat = spark.range(1).select(lit("-1").as("k"),
        timestamp_millis(lit(86400L * 1000000000L)).as("ts"),
        lit(true).as("isConv"), lit(-1L).as("tie"), lit(0L).as("cents"))
      val src = java.nio.file.Files.createTempDirectory(s"sweep_attr_src$s")
      base.unionByName(heartbeat).coalesce(2)
        .write.mode("overwrite").parquet(src.toString)
      val ckpt = java.nio.file.Files.createTempDirectory(s"sweep_attr_ck$s")
      val name = "swpattr" + s + java.util.UUID.randomUUID().toString.replace("-", "")
      val in = spark.readStream.schema(base.schema).parquet(src.toString)
        .as[TemporalEnrich.AttrInput]
      val q = TemporalEnrich.eventTimeAttribution(in, "0 seconds",
          window = 1800000000L)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val n = spark.table(name).filter(col("k") =!= "-1").count()
      spark.catalog.dropTempView(name)
      for (d <- Seq(src, ckpt)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
      n
    })
  }

  test("L139 TextTiling segmentation stays near-linear under ×9 salted scale") {
    // per-doc scoring is O(n_toks·w) array HOFs with w a constant 10;
    // the cut-list window is per-doc — a regression that re-scores per
    // candidate boundary pair (O(n²)) would read ≥ ~2 here
    sweep("texttile_segments", s => graft.ops.TextOps.textTileSegments(
      scaledDocs(s), "doc_id", "text", w = 10, minOverlap = 2).count())
  }

  test("L144 hits stays near-linear under ×9 node scale") {
    // same constant-out-degree digraph as the pagerank sweep: per
    // half-round work is one edge join + one sum, so time tracks |V|
    sweep("hits", s => {
      val n = 20000L * s
      val e1 = spark.range(n).select(col("id").as("src"),
        ((col("id") * 7L + 1L) % n).as("dst"))
      val e2 = spark.range(n).select(col("id").as("src"),
        ((col("id") * 13L + 5L) % n).as("dst"))
      graft.ops.GraphOps.hits(e1.unionByName(e2), "src", "dst", iters = 2).count()
    })
  }

  test("L149 k-core peel stays near-linear under ×9 node scale") {
    // ring + chord (degree 4) with a pendant spoke per 10th node: each
    // round is one degree count + one semi-join filter over O(|E|)
    sweep("kcore", s => {
      val n = 20000L * s
      val ring = spark.range(n).select(col("id").as("a"), ((col("id") + 1L) % n).as("b"))
      val chord = spark.range(n).select(col("id").as("a"), ((col("id") * 3L + 7L) % n).as("b"))
      val spokes = spark.range(n / 10L).select((col("id") * 10L).as("a"),
        (col("id") + n).as("b"))
      graft.ops.GraphOps.kCorePeel(
        ring.unionByName(chord).unionByName(spokes).filter(col("a") =!= col("b")),
        "a", "b", k = 2, rounds = 3).count()
    })
  }

  test("L153 k-truss peel stays near-linear under ×9 edge scale") {
    // ring + chord gives triangle-bearing structure; spokes are
    // triangle-free so round 1 has real peeling work at every scale
    sweep("truss", s => {
      val n = 20000L * s
      val ring = spark.range(n).select(col("id").as("a"), ((col("id") + 1L) % n).as("b"))
      val chord = spark.range(n).select(col("id").as("a"), ((col("id") * 3L + 7L) % n).as("b"))
      val spokes = spark.range(n / 10L).select((col("id") * 10L).as("a"),
        (col("id") + n).as("b"))
      graft.ops.GraphOps.trussPeel(
        ring.unionByName(chord).unionByName(spokes).filter(col("a") =!= col("b")),
        "a", "b", k = 3, rounds = 2).count() + 1
    })
  }

  test("L158 DER stays near-linear under ×9 file scale") {
    // per-file work is bounded (4 segments each side, <=24 mappings);
    // scaling the FILE count is the axis that matters at corpus scale
    sweep("der", s => {
      val n = 4000L * s
      val ks = spark.range(n).select(col("id").as("f"),
        explode(sequence(lit(0L), lit(3L))).as("k"))
      val ref = ks.select(col("f"), (col("k") * 10L).as("s"),
        (col("k") * 10L + 6L).as("e"), pmod(col("k") + col("f"), lit(4L)).as("spk"))
      val hyp = ks.select(col("f"), (col("k") * 10L + 1L).as("s"),
        (col("k") * 10L + 7L).as("e"), pmod(col("k") + col("f") + 1L, lit(4L)).as("spk"))
      graft.ops.EvalOps.diarizationErrorRate(ref, hyp, "f", "s", "e", "spk")
        .count()
    })
  }

  test("L161 cpWER stays near-linear under ×9 file scale") {
    sweep("cpwer", s => {
      val n = 3000L * s
      val sp = spark.range(n).select(col("id").as("f"),
        explode(sequence(lit(0), lit(2))).as("spk"))
      val words = transform(sequence(lit(0L), lit(9L)),
        i => concat(lit("w"), (pmod(col("f") + col("spk") * 7L + i, lit(40L))).cast("string")))
      val refs = sp.select(col("f"), col("spk"), words.as("words"))
      val hyps = sp.select(col("f"),
        pmod(col("spk") + col("f"), lit(3L)).cast("int").as("spk"), words.as("words"))
      graft.ops.EvalOps.cpWer(refs, hyps, "f", "spk", "words", maxSpeakers = 3)
        .count()
    })
  }

  test("L145 triangle counting stays near-linear under ×9 node scale") {
    // ring + skip-2 chord: every node closes exactly one triangle
    // (i, i+1, i+2), degree constant 4 — wedge volume is linear in |V|.
    // Losing the degree orientation (raw neighbor self-join) stays
    // linear HERE by construction, but a hub-heavy graph wouldn't; the
    // orientation is additionally pinned by the star test in OpsSpec.
    sweep("triangles", s => {
      val n = 30000L * s
      val ring = spark.range(n).select(col("id").as("a"), ((col("id") + 1L) % n).as("b"))
      val chord = spark.range(n).select(col("id").as("a"), ((col("id") + 2L) % n).as("b"))
      graft.ops.GraphOps.triangleCounts(ring.unionByName(chord), "a", "b")
        .filter(col("n_tri") > 0).count()
    })
  }

  test("L190 BFS relaxation stays near-linear under ×9 edge scale") {
    // per round one equi join + min-agg over O(|E|); the rounds cap is
    // fixed, so the sweep axis is the edge count. A regression to a
    // frontier cross join or per-round lineage growth shows here.
    // ×1 and ×3 fit the driver finish, so the sweep calls the
    // distributed rounds directly to guard them at every point.
    sweep("bfs", s => {
      val n = 40000L * s
      val chain = spark.range(n).select(col("id").as("src"),
        ((col("id") + 1L) % n).as("dst"))
      val skip = spark.range(n).select(col("id").as("src"),
        ((col("id") + 7L) % n).as("dst"))
      val seeds = spark.range(n / 100L).select((col("id") * 100L).as("seed"))
      graft.ops.GraphOps.relaxDistancesDistributed(chain.unionByName(skip),
        "src", "dst", None, seeds, "seed", rounds = 3).count()
    })
  }

  test("L230 neighborJaccard stays near-linear under ×9 edge scale " +
      "(the degCap bounds the wedge join)") {
    // chain + skip edges keep every degree ≤ 4, far under the cap, so
    // the wedge join is O(|E|·cap); a regression that drops the
    // neighbor pruning (hub blowup) or pairs owners quadratically
    // shows here.
    sweep("neighbor_jaccard", s => {
      val n = 30000L * s
      val chain = spark.range(n).select(col("id").as("src"),
        ((col("id") + 1L) % n).as("dst"))
      val skip = spark.range(n).select(col("id").as("src"),
        ((col("id") + 7L) % n).as("dst"))
      graft.ops.GraphOps.neighborJaccard(chain.unionByName(skip),
        "src", "dst", degCap = 16, topK = 50).count()
    })
  }

  test("L196 weighted SSSP relaxation stays near-linear under ×9 edge scale") {
    // identical join+min-agg shape as BFS plus the per-edge weight add
    // and the fingerprint witness, run once after the loop — the sweep
    // guards the witness (a fingerprint regression to a collected sort
    // would super-linearize) as much as the relaxation. Like the bfs
    // sweep it calls the distributed rounds directly.
    sweep("sssp", s => {
      val n = 40000L * s
      val chain = spark.range(n).select(col("id").as("src"),
        ((col("id") + 1L) % n).as("dst"), (col("id") % 5L + 1L).as("w"))
      val skip = spark.range(n).select(col("id").as("src"),
        ((col("id") + 7L) % n).as("dst"), (col("id") % 3L + 1L).as("w"))
      val seeds = spark.range(n / 100L).select((col("id") * 100L).as("seed"))
      graft.ops.GraphOps.relaxDistancesDistributed(chain.unionByName(skip),
        "src", "dst", Some("w"), seeds, "seed", rounds = 3).count()
    })
  }

  test("L189 Hilbert layout stays near-linear under ×9 row scale") {
    // the xy2d aggregate is per-row constant work (bits levels); the
    // only non-map stage is the range sort behind row_number — the
    // sweep guards against the fold degenerating to per-row blowup
    sweep("hilbert", s => {
      val n = 120000L * s
      val pts = spark.range(n).select(col("id").as("u"),
        pmod(col("id") * 2654435761L, lit(1000003L)).as("t"),
        col("id").as("tie"))
      graft.ops.Curation.hilbertLayout(pts, "u", "t", "tie",
        bits = 12, rowsPerFile = 4096).count()
    })
  }

  test("L191 span detection stays near-linear under ×9 file scale") {
    sweep("span_detect", s => {
      val n = 6000L * s
      val ks = spark.range(n).select(col("id").as("f"),
        explode(sequence(lit(0L), lit(3L))).as("k"))
      val ref = ks.select(col("f"), (col("k") * 10L).as("s"),
        (col("k") * 10L + 6L).as("e"))
      val hyp = ks.select(col("f"), (col("k") * 10L + 1L).as("s"),
        (col("k") * 10L + 7L).as("e"))
      graft.ops.EvalOps.spanDetection(ref, hyp, "f", "s", "e", 500000L)
        .count()
    })
  }

  test("L135 span surgery stays near-linear under ×9 salted scale") {
    // removal is an exists() over each doc's PRE-MERGED disjoint
    // intervals (≤ n_toks/2); losing the merge makes the hot-doc token
    // scan O(n_toks · raw_pair_count) and pushes the exponent up
    sweep("span_surgery", s => {
      val docs = scaledDocs(s)
      graft.ops.Dedup.removeDupSpans(docs,
        graft.ops.Dedup.substringDupSpans(docs, "doc_id", "text", k = 10),
        "doc_id", "text").count()
    })
  }
}
