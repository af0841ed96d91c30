package graft.ops

import org.apache.spark.sql.{DataFrame, GraftShim, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

/** Link-graph centrality and label-diffusion operators — the graph
  * pass of a web-scale curation pipeline (reference's corpus hygiene
  * stage generalized the way `modules/` composes per-file ops; cf.
  * `run.sh:12-19` for the stage chain the ops slot into). Both ops are
  * fixed-iteration Pregel-style loops expressed as DataFrame joins:
  * the driver composes one plan per iteration (never touches data),
  * each iteration is one equi join on the edge key plus one
  * aggregation, and lineage is truncated per round with an eager
  * `localCheckpoint` so iteration k never replays 1..k−1.
  *
  * The BFS/SSSP relaxation ([[bfsDistances]], [[ssspDistances]]) is
  * size-selected: a graph of at most
  * `spark.sql.autoBroadcastJoinThreshold` / 24 bytes per (src, dst, w)
  * edge — Spark's own "fits in one JVM" bound — is collected once and
  * relaxed over primitive arrays on the driver, because at that size
  * each round's shuffle and checkpoint jobs cost more than the data;
  * a larger graph runs the distributed rounds. Both give identical
  * rows.
  *
  * Everything stays in the exact integer domain — fixed-point ranks
  * with floor division, integer label votes — so results are
  * bit-replayable by any engine with the same division semantics
  * (Spark `div` ≡ DuckDB `//` on non-negative BIGINT), which is what
  * makes a 2-iteration unrolled SQL oracle possible.
  */
object GraphOps {

  /** INTEGER-EXACT PAGERANK (Page/Brin/Motwani/Winograd 1999) over a
    * directed multigraph — the link-centrality quality weight of
    * web-corpus curation (OPIC/harmonic-centrality stand-ins in
    * CommonCrawl-scale pipelines rank hosts before sampling).
    *
    * Fixed-point semantics, no IEEE anywhere: every node starts at
    * `scale`; one iteration sends `floor(rank / out_degree)` along each
    * out-edge (duplicate edges are distinct conductances — multigraph
    * semantics; `out_degree` counts them) and re-seats each node at
    * `floor(scale·15/100) + floor(85·Σ incoming / 100)`. Mass routed to
    * a dangling node (no out-edges) drops out of circulation — the
    * documented deterministic choice (no teleport redistribution, which
    * would need a global scalar per iteration); ranks therefore bleed
    * slightly low in absolute terms but the ORDER — the signal curation
    * consumes — is the standard damped one. Floor division makes the
    * result identical on every engine: sums of longs are
    * order-independent, so partition count and merge order cannot
    * perturb a single bit.
    *
    * Scale shape per iteration: one shuffle join of the rank table with
    * the (edge, out-degree) table on `src` — the edge table is built
    * once, cached, and reused by every iteration so the per-round cost
    * is one shuffle of the O(|V|) rank table plus one map-side-combined
    * sum to `dst` — and one left join back to the node set. `iters` is
    * small and fixed; the loop is driver-side plan composition only.
    *
    * Input: (srcCol, dstCol) edge table. Output: (node, pr) for every
    * node appearing as an endpoint.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters must be in 1..16, got $iters")
    require(scale >= 100L, s"scale must be >= 100, got $scale")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    // (src, dst, odeg) — one build, reused by every iteration
    val eo = e.join(e.groupBy(col("src")).agg(count(lit(1)).as("odeg")), "src")
      .localCheckpoint(true)
    val base = scale * 15L / 100L
    var ranks = nodes.withColumn("pr", lit(scale))
    var it = 0
    while (it < iters) {
      val in = eo.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("pr div odeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes.join(in, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(base) + expr("(85L * coalesce(s, 0L)) div 100L")).as("pr"))
      // The chain is LINEAR (each iteration's output has exactly one
      // consumer), so nothing replays without a checkpoint — the eager
      // per-iteration localCheckpoint was pure job-launch overhead
      // (measured: g_pagerank 2.2 s → 0.9 s at sf0.1). Checkpoint every
      // CkptEvery rounds only, to bound plan depth / lineage at scale.
      if (it % CkptEvery == CkptEvery - 1) ranks = ranks.localCheckpoint(true)
      it += 1
    }
    ranks
  }

  /** Lineage-truncation cadence of the LINEAR iterative loops
    * ([[pageRank]], [[personalizedPageRank]], [[labelPropagation]]):
    * a checkpoint every N rounds bounds plan depth and RDD lineage
    * while amortizing the per-checkpoint job launch over N rounds.
    * Loops whose state is referenced more than once per round
    * ([[hyperBall]], the BFS/SSSP fixpoint with its convergence
    * fingerprint, the CC star contractions) keep materializing every
    * round — there the checkpoint prevents exponential replay.
    */
  private val CkptEvery = 4

  /** PERSONALIZED PAGERANK (Haveliwala 2002 topic-sensitive variant)
    * — the seed-expansion op of corpus curation: rank every node by
    * random-walk proximity to a TRUSTED SEED SET (known-good domains,
    * hand-audited docs), then keep/upweight the high-PPR tail. Same
    * integer fixed-point semantics as [[pageRank]] with one change:
    * the teleport/base term lands ONLY on seed nodes — seeds start at
    * `scale` and keep the `floor(scale·15/100)` restart mass, non-seeds
    * start at 0 and receive damped inflow only, so mass measures
    * proximity to the seeds rather than global centrality. Dangling
    * drop, floor division, multigraph conductance: all identical to
    * [[pageRank]], and identically bit-exact cross-engine.
    *
    * Scale shape: the seed table joins the node set once up front
    * (seed sets are small — broadcast — but the join is keyed either
    * way); per-iteration cost is exactly [[pageRank]]'s.
    *
    * Input: edges + a 1-column seed id table. Output: (node, ppr).
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters must be in 1..16, got $iters")
    require(scale >= 100L, s"scale must be >= 100, got $scale")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val sd = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct().withColumn("__seed", lit(1))
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .join(sd, Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(0)).as("seed"))
      .localCheckpoint(true)
    val eo = e.join(e.groupBy(col("src")).agg(count(lit(1)).as("odeg")), "src")
      .localCheckpoint(true)
    val base = scale * 15L / 100L
    var ranks = nodes.withColumn("pr",
      when(col("seed") === 1, lit(scale)).otherwise(lit(0L)))
    var it = 0
    while (it < iters) {
      val in = eo.join(ranks.select(col("node"), col("pr")), col("src") === col("node"))
        .select(col("dst"), expr("pr div odeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes.join(in, col("node") === col("dst"), "left")
        .select(col("node"), col("seed"),
          (when(col("seed") === 1, lit(base)).otherwise(lit(0L)) +
            expr("(85L * coalesce(s, 0L)) div 100L")).as("pr"))
      // linear chain — batch the lineage truncation (see [[CkptEvery]])
      if (it % CkptEvery == CkptEvery - 1) ranks = ranks.localCheckpoint(true)
      it += 1
    }
    ranks.select(col("node"), col("pr").as("ppr"))
  }

  /** SYNCHRONOUS LABEL PROPAGATION (Raghavan et al. 2007) over an
    * undirected pair graph — the community-refinement pass downstream
    * of a near-dup candidate graph: where connected components
    * transitively glue everything a chain touches (one spurious LSH
    * edge merges two clusters), LPA votes, so a cluster absorbs a node
    * only when the MAJORITY of its neighbors agree — the standard
    * chain-breaker between `minhashLshPairs` and canonical selection.
    *
    * Deterministic by construction: labels start as node ids; every
    * iteration each node adopts the neighbor label with the highest
    * vote count, ties to the SMALLEST label, all nodes updating from
    * the PREVIOUS iteration's labels (synchronous — no asynchronous
    * scan-order dependence). Duplicate pairs vote once per occurrence.
    * Integer domain throughout; a fixed `iters` unrolls to SQL exactly.
    *
    * Scale shape per iteration: one shuffle join of the O(|V|) label
    * table against the cached symmetrized edge table on the neighbor
    * key, one count aggregation on (node, label), and one row_number
    * argmax partitioned by node — every stage keyed, nothing quadratic,
    * hot nodes bounded by their degree (the LSH `maxPairDf`-style caps
    * upstream bound degree before this op ever sees the graph).
    *
    * Input: (aCol, bCol) undirected pairs. Output: (node, label) for
    * every node with at least one pair.
    */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters must be in 1..16, got $iters")
    val sym = pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .unionByName(
        pairs.select(col(bCol).cast("long").as("u"), col(aCol).cast("long").as("v")))
      .localCheckpoint(true)
    var lbl = sym.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
    val byVotes = Window.partitionBy(col("node"))
      .orderBy(col("cnt").desc, col("lbl"))
    var it = 0
    while (it < iters) {
      val votes = sym.join(lbl.select(col("node").as("v"), col("lbl")), "v")
        .groupBy(col("u").as("node"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      lbl = votes.withColumn("__rn", row_number().over(byVotes))
        .filter(col("__rn") === 1)
        .select(col("node"), col("lbl"))
      // linear chain — batch the lineage truncation (see [[CkptEvery]])
      if (it % CkptEvery == CkptEvery - 1) lbl = lbl.localCheckpoint(true)
      it += 1
    }
    lbl
  }

  /** L144 — HITS HUBS & AUTHORITIES (Kleinberg 1999, JACM 46(5)) over a
    * directed link graph — the complementary centrality to [[pageRank]]
    * for corpus curation: an AUTHORITY is a page many good hubs point
    * at (the quality-content signal to upweight), a HUB is a page that
    * points at many good authorities (the directory/aggregator signal —
    * often boilerplate to DOWNweight). One score cannot stand in for
    * the other on bipartite-ish link structure, which is exactly what
    * hub-and-spoke crawl graphs look like.
    *
    * UNNORMALIZED exact-integer mutual recursion: a⁰ ≡ 1, then per
    * round h(u) = Σ_{u→v} a(v) followed by a(v) = Σ_{u→v} h(u)
    * (duplicate edges are distinct conductances, as in [[pageRank]]).
    * The textbook per-round L2 normalization only rescales — the
    * RANKING, which is what curation consumes, is identical — so
    * dropping it keeps every score a bit-replayable BIGINT. Magnitudes
    * grow like (d_max²)^iters; `require(iters <= 3)` keeps any graph
    * with d_max < 2²⁰ degrees inside 63 bits — at true web scale run
    * iters=2..3 or add the float normalization and give up the oracle.
    *
    * Scale shape per round: the edge table is built and checkpointed
    * once; each half-round is one equi join of the O(|V|) score table
    * against it plus one map-side-combined sum — [[pageRank]]'s exact
    * cost profile, nothing quadratic, hot nodes bounded by degree.
    *
    * Output: (node, hub, auth) for every endpoint; a node with no
    * out-edges has hub 0, no in-edges auth 0.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 3, s"iters must be in 1..3, got $iters")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    var auth = nodes.withColumn("a", lit(1L))
    var hub: DataFrame = null
    var it = 0
    while (it < iters) {
      val hs = e.join(auth.select(col("node").as("dst"), col("a")), "dst")
        .groupBy(col("src")).agg(sum(col("a")).as("h"))
      hub = nodes.join(hs, col("node") === col("src"), "left")
        .select(col("node"), coalesce(col("h"), lit(0L)).as("h"))
      // Each intermediate hub/auth has exactly ONE consumer (the next
      // half-round) — a linear chain, so the per-half-round eager
      // checkpoints were pure job-launch overhead at iters ≤ 3. Only
      // the FINAL hub is referenced twice (it feeds the last auth AND
      // the result join) — materialize just that one so the hub
      // subtree is not evaluated twice by the final action.
      if (it == iters - 1) hub = hub.localCheckpoint(true)
      val as = e.join(hub.select(col("node").as("src"), col("h")), "src")
        .groupBy(col("dst")).agg(sum(col("h")).as("a"))
      auth = nodes.join(as, col("node") === col("dst"), "left")
        .select(col("node"), coalesce(col("a"), lit(0L)).as("a"))
      it += 1
    }
    hub.join(auth, "node")
      .select(col("node"), col("h").as("hub"), col("a").as("auth"))
  }

  /** L145 — TRIANGLE COUNTING (node-iterator with degree ordering,
    * Schank & Wagner 2005) over an undirected pair graph — the local
    * clustering signal of a near-dup graph: a pair edge supported by a
    * closed triangle is corroborated by a THIRD document agreeing with
    * both endpoints, while a bridge edge with no triangles is the
    * classic spurious-LSH-collision shape (the same chain-breaking
    * motivation as [[labelPropagation]], but as a per-edge/per-node
    * hard count rather than a vote). Downstream: dedup clusters keep
    * edges with `n_tri > 0`, spam rings show as triangle-dense knots.
    *
    * The degree-ordering trick makes it scale-safe: orient every
    * undirected edge from its lower-(degree, id) endpoint to the
    * higher one — every triangle then has EXACTLY ONE wedge whose two
    * edges leave its minimum vertex, so counting wedge-closures counts
    * each triangle once, and the wedge join fans out per node by its
    * ORIENTED out-degree, which the ordering bounds by O(√|E|)
    * regardless of raw hub degree (the viral-boilerplate doc that
    * breaks the naive neighbor join).
    *
    * All joins are equi joins on node keys; per-corner counts come from
    * exploding each found triangle to its three corners. Exact integer
    * end-to-end — the oracle replays orientation, wedge join and
    * closure verbatim.
    *
    * Input: distinct undirected pairs (aCol < bCol). Output:
    * (node, n_tri) for every pair endpoint, 0 for triangle-free nodes.
    */
  def triangleCounts(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val und = pairs.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b")).distinct()
      .localCheckpoint(true)
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val tri = triangles(und, deg)
    val corners = tri.select(explode(array(col("lo"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.select(col("node")).join(corners, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** The degree-ordered triangle enumeration shared by
    * [[triangleCounts]] and [[trussPeel]]: given distinct undirected
    * (a, b) edges and the (node, deg) table, emit each triangle ONCE
    * as (lo, v, w) — lo the (deg, id)-minimum corner, v before w in
    * the same order.
    */
  private def triangles(und: DataFrame, deg: DataFrame): DataFrame = {
    // orient low -> high by (deg, id); lo/hi carry their (deg, id) rank
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("lo"), col("b").as("hi"),
          col("da").as("dlo"), col("db").as("dhi")))
        .otherwise(struct(col("b").as("lo"), col("a").as("hi"),
          col("db").as("dlo"), col("da").as("dhi"))).as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"),
        col("e.dlo").as("dlo"), col("e.dhi").as("dhi"))
      .localCheckpoint(true)
    // wedges at the minimum vertex: two oriented edges out of lo, the
    // endpoints ordered by the SAME (deg, id) rule so (v, w) probes the
    // oriented closing edge directly
    val e1 = oriented.select(col("lo"), col("hi").as("v"), col("dhi").as("dv"))
    val e2 = oriented.select(col("lo"), col("hi").as("w"), col("dhi").as("dw"))
    e1.join(e2, "lo")
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .join(oriented.select(col("lo").as("v"), col("hi").as("w")), Seq("v", "w"))
      .select(col("lo"), col("v"), col("w"))
  }

  /** L153 — k-TRUSS PEELING (Cohen 2008), the EDGE-grade companion to
    * [[kCorePeel]]'s node grade: keep only edges supported by at least
    * k−2 triangles, recompute, repeat — a k-truss edge has k−2
    * independent third-party witnesses agreeing with BOTH endpoints,
    * which is the strongest cheap corroboration a near-dup pair graph
    * edge can carry (one spurious LSH band collision almost never
    * closes a triangle, let alone k−2). Dedup keeps truss edges as
    * merge-grade evidence; bridges and chains fall away.
    *
    * Same bounded-round contract as [[kCorePeel]]: the output is the
    * edge set after exactly `rounds` synchronous support-filter
    * rounds, converged or not — fixed rounds unroll to a SQL oracle.
    * Per round: one [[triangles]] enumeration (degree-ordered wedge
    * join — O(m^1.5) worst case, hub-safe) + one explode + count +
    * semi filter; lineage truncated per round.
    *
    * Output: (a, b, support, converged) for surviving edges, support
    * measured in the subgraph ENTERING the last round (i.e. before
    * that round's filter) — a surviving edge's reported support can
    * therefore exceed its support in the returned subgraph; running
    * one more round tightens it. `converged` witnesses that the final
    * round removed no edge (peeling is monotone, so an unchanged
    * count IS set-level convergence and the reported supports are the
    * true truss supports).
    */
  def trussPeel(pairs: DataFrame, aCol: String, bCol: String,
                k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 1 && rounds <= 8, s"rounds must be in 1..8, got $rounds")
    var e = pairs.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b")).distinct()
      .localCheckpoint(true)
    var supp: DataFrame = null
    // Peeling is monotone (the edge set only shrinks), so "the final
    // round removed nothing" — count entering == count leaving, both
    // sides already localCheckpoint-materialized so the counts are
    // cheap cached scans — is exactly set-level convergence.
    var prevCnt = e.count()
    var converged = false
    var r = 0
    while (r < rounds) {
      val deg = e.select(col("a").as("node"))
        .unionByName(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val tri = triangles(e, deg)
      // each triangle supports its three edges, normalized back to id
      // order (the oriented corners are (deg, id)-ordered, not id-ordered)
      val edges3 = tri.select(explode(array(
        struct(least(col("lo"), col("v")).as("a"), greatest(col("lo"), col("v")).as("b")),
        struct(least(col("lo"), col("w")).as("a"), greatest(col("lo"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"), greatest(col("v"), col("w")).as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
      supp = edges3.groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
        .filter(col("support") >= k - 2)
        .localCheckpoint(true)
      e = supp.select(col("a"), col("b"))
      val cnt = supp.count()
      converged = cnt == prevCnt
      prevCnt = cnt
      r += 1
    }
    supp.withColumn("converged", lit(converged))
  }

  /** L149 — k-CORE PEELING (Seidman 1983; the Batagelj–Zaveršnik
    * deletion process, run synchronously for `rounds` rounds) over an
    * undirected pair graph — the density filter of a near-dup graph:
    * the k-core is the maximal subgraph where every node keeps ≥ k
    * neighbors AFTER all weaker nodes are removed, a strictly stronger
    * demand than raw degree (a hub glued to 50 degree-1 spokes has
    * degree 50 and is in no 2-core). Dedup keeps the cores as
    * high-confidence clusters; chains and spokes peel away.
    *
    * BOUNDED-ROUND CONTRACT: each round recomputes degrees over the
    * surviving subgraph and removes every node with degree < k,
    * synchronously; the output is the subgraph after exactly `rounds`
    * rounds — a well-defined exact object whether or not the process
    * has converged (it converges when no node falls below k; callers
    * wanting the true core check [[kCorePeel]] twice or raise
    * `rounds`). The fixed bound is what unrolls to a SQL oracle; the
    * same posture as the fixed-iteration pageRank/LPA loops.
    *
    * Scale shape per round: one map-side-combined degree count + one
    * semi-join edge filter against the surviving node set, lineage
    * truncated per round with localCheckpoint — O(|E|) per round,
    * nothing quadratic, the loop is driver-side plan composition only.
    *
    * Output: (node, deg, converged) of the survivors after `rounds`
    * rounds, deg measured in the surviving subgraph; `converged`
    * witnesses that the final round removed no edge, i.e. the output
    * IS the true k-core, not just round `rounds` of the process.
    */
  def kCorePeel(pairs: DataFrame, aCol: String, bCol: String,
                k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 16, s"rounds must be in 1..16, got $rounds")
    var e = pairs.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b")).distinct()
      .localCheckpoint(true)
    // Same monotone-process convergence witness as [[trussPeel]]:
    // the edge set only shrinks, so an unchanged count across the
    // final round IS set-level convergence (cheap — both sides are
    // checkpoint-materialized).
    var prevCnt = e.count()
    var converged = false
    var r = 0
    while (r < rounds) {
      val deg = e.select(col("a").as("node"))
        .unionByName(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val alive = deg.filter(col("deg") >= k).select(col("node"))
      e = e.join(alive.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(alive.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(true)
      val cnt = e.count()
      converged = cnt == prevCnt
      prevCnt = cnt
      r += 1
    }
    e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .withColumn("converged", lit(converged))
  }

  /** L190 — MULTI-SOURCE BFS DISTANCES (bounded synchronous rounds):
    * hop distance from the nearest seed following edge direction — the
    * "how far is every page from the trusted allowlist" crawl-frontier
    * metric next to L117's random-walk proximity (PPR weighs ALL
    * paths; BFS reports the single number an expansion policy
    * thresholds on). Bellman-Ford-style relaxation: round k sets
    * d(v) = min(d(v), 1 + min over in-neighbors u of d(u)) — after
    * `rounds` rounds every distance ≤ rounds is EXACT (bounded-round
    * contract, the k-core posture: well-defined output whether or not
    * the frontier is exhausted); unreached nodes flag dist −1 /
    * reached false, never a sentinel leaking into the report.
    *
    * Scale shape, chosen by edge count (no option): one bounded
    * `limit(n + 1).collect()` with n = `spark.sql.autoBroadcastJoinThreshold`
    * / 24 bytes per (src, dst, w) edge (10 MB → 436,906 edges). If the
    * whole edge table (and seed set) fits, the `rounds` synchronous
    * relaxations run over primitive arrays on the driver — O(rounds·|E|)
    * with no per-round Spark job — and the result is a local relation.
    * Otherwise the distributed rounds run: per round one equi join of
    * the O(|V|) distance table against the edge table + one
    * map-side-combined min-agg — the g_pagerank iteration shape;
    * distances localCheckpoint between rounds so the lineage stays flat.
    *
    * Node universe: the edge endpoints UNIONED with the seed set — an
    * isolated seed (in `seeds` but touching no edge) is trivially at
    * distance 0 and must appear in the report, not silently vanish.
    *
    * `converged` witnesses frontier exhaustion: distances only ever
    * decrease over a FIXED node set, so no distance changing across the
    * final round means the output IS the true BFS distance table, not
    * just round `rounds` of it (the kCorePeel/trussPeel
    * monotone-witness posture). The driver finish compares the last
    * two distance arrays exactly; the distributed rounds compare an
    * order-invariant xxhash64-XOR fingerprint of the (node, dist) rows,
    * computed once after the loop on checkpoint-materialized tables.
    *
    * Output: (node, dist, reached, converged).
    */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, rounds: Int): DataFrame =
    relaxDistances(edges, srcCol, dstCol, None, seeds, seedCol, rounds)

  /** L196 — WEIGHTED SINGLE/MULTI-SOURCE SHORTEST PATHS (bounded
    * synchronous Bellman-Ford): [[bfsDistances]] with a non-negative
    * integer edge weight — hop counts answer "how many clicks"; the
    * weighted twin answers "how costly" (latency, toll, edit budget).
    * Round k relaxes d(v) = min(d(v), min over in-edges (u,v,w) of
    * d(u) + w); after `rounds` rounds every node whose true shortest
    * path uses ≤ `rounds` edges is EXACT (the classic Bellman-Ford
    * round invariant) — the same bounded-round contract as the hop
    * version, unrollable to a SQL oracle.
    *
    * CONTRACT (loud): weights must be integers in 0..10⁶ — a negative
    * weight breaks the round invariant (and the Inf sentinel), so it
    * raises instead of silently corrupting distances.
    *
    * Output: (node, dist, reached, converged).
    */
  def ssspDistances(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, seedCol: String,
      rounds: Int): DataFrame =
    relaxDistances(edges, srcCol, dstCol, Some(weightCol), seeds, seedCol,
      rounds)

  /** L201 — HYPERBALL NEIGHBORHOOD FUNCTION (Boldi & Vigna 2013): per
    * node an approximate |ball(v, r)| — how many nodes are within r
    * hops following out-edges — via one HyperLogLog counter per node,
    * merged along edges each round: ball_v(k) = ball_v(k−1) ∪
    * (∪ over out-neighbors u) ball_u(k−1). THE scale-native way to
    * read distance distributions / closeness centrality off a 100 TB
    * web graph: exact ball sizes explode combinatorially, HLL counters
    * are fixed 2^b longs per node and their merge is element-wise max —
    * associative, commutative, idempotent — so every round is one equi
    * join + one map-side-combined max-agg, the g_pagerank iteration
    * shape.
    *
    * Register discipline = the L71 sketch exactly (the SAME public
    * 60-bit md5 hash, bucket = top b bits, rank = width+1 − bitlength):
    * registers here live as (node, bucket, reg) rows rather than a
    * packed array — the row form is what makes the max-merge a plain
    * aggregate and the whole object EXACTLY replayable in SQL; a
    * packed-array flavor would shave constant factors, not complexity.
    * Every register is deterministic, so this APPROXIMATE operator is
    * exactly oracle-checkable; the raw α·m²·2^(width+1)/S estimate is a
    * single double division of exact integers.
    *
    * Output: (node, regs CSV in bucket order, s_scaled, n_zero,
    * est_ball) after exactly `rounds` rounds (bounded-round contract:
    * ball radius = rounds, exact — HyperBall's own termination is
    * radius-by-radius anyway).
    */
  def hyperBall(edges: DataFrame, srcCol: String, dstCol: String,
      b: Int, rounds: Int): DataFrame = {
    require(b >= 1 && b <= 8, s"need 1 <= b <= 8, got $b")
    require(rounds >= 1 && rounds <= 8, s"need 1 <= rounds <= 8, got $rounds")
    val m = 1 << b
    val width = 60 - b
    val wMask = (1L << width) - 1L
    // materialize the edge table ONCE (the pageRank/hits posture): it
    // is joined every round, and uncheckpointed each round re-ran the
    // caller's full edge DERIVATION (link-graph windows + unions)
    val ed = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .localCheckpoint(true)
    val nodes = ed.select(col("src").as("node"))
      .unionByName(ed.select(col("dst").as("node"))).distinct()
    // self-hash registers: ball(v, 0) = {v}
    val hv = conv(substring(md5(col("node").cast("string")), 1, 15), 16, 10)
      .cast("long")
    var regs = nodes
      .withColumn("__hv", hv)
      .select(col("node"),
        shiftright(col("__hv"), width).bitwiseAND(lit((m - 1).toLong))
          .as("bucket"),
        when(col("__hv").bitwiseAND(lit(wMask)) === 0L, lit(width + 1L))
          .otherwise(lit(width + 1L) -
            length(conv(col("__hv").bitwiseAND(lit(wMask)), 10, 2)))
          .as("reg"))
      .localCheckpoint(true)
    var r = 0
    while (r < rounds) {
      val gathered = ed
        .join(regs.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src").as("node"), col("bucket"), col("reg"))
      regs = regs.unionByName(gathered)
        .groupBy(col("node"), col("bucket")).agg(max(col("reg")).as("reg"))
        .localCheckpoint(true)
      r += 1
    }
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    regs
      .groupBy(col("node"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("reg"))))
        .as("__rm"))
      .select(col("node"),
        expr(s"transform(sequence(0L, ${m - 1}L), i -> coalesce(__rm[i], 0L))")
          .as("__regs"))
      .select(col("node"),
        array_join(col("__regs").cast("array<string>"), ",").as("regs"),
        expr(s"aggregate(__regs, 0L, (acc, x) -> acc + shiftleft(1L, ${width + 1} - cast(x as int)))")
          .as("s_scaled"),
        expr("aggregate(__regs, 0L, (acc, x) -> acc + IF(x = 0L, 1L, 0L))")
          .as("n_zero"))
      .withColumn("est_ball",
        (lit(alpha) * lit((m.toLong * m.toLong).toDouble)
          * lit(math.pow(2.0, (width + 1).toDouble)))
          / col("s_scaled").cast("double"))
  }

  /** > any reachable distance under the rounds/weight caps (8 rounds
    * of weight <= 1e6 tops out at 8e6), still far from long overflow
    * when a round adds a weight to it.
    */
  private val Inf = 999999999L

  /** Driver-side footprint of one collected (src, dst, w) edge: three
    * longs. [[relaxDistances]] finishes on the driver when
    * `spark.sql.autoBroadcastJoinThreshold / EdgeBytes` edges hold the
    * whole graph — the same "fits in one JVM" bound Spark applies
    * before it broadcasts a join side.
    */
  private val EdgeBytes = 24L

  /** The shared inputs of both relaxation paths: the typed (src, dst, w)
    * edge table with the weight gate — any weight outside 0..1e6 raises
    * on whichever path evaluates the edge — and the seed column.
    */
  private def relaxInputs(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String], seeds: DataFrame,
      seedCol: String): (DataFrame, DataFrame) = {
    val ed = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      weightCol.map(w =>
          when(col(w).cast("long").isNull || col(w).cast("long") < 0L
              || col(w).cast("long") > 1000000L,
            raise_error(concat(lit("ssspDistances: weight outside 0..1e6: "),
              coalesce(col(w).cast("string"), lit("null")))).cast("long"))
            .otherwise(col(w).cast("long")))
        .getOrElse(lit(1L)).as("w"))
    (ed, seeds.select(col(seedCol).cast("long").as("node")))
  }

  /** Bounded synchronous Bellman-Ford behind [[bfsDistances]] and
    * [[ssspDistances]], size-selected: one bounded
    * `limit(n + 1).collect()` takes at most n = broadcast threshold /
    * [[EdgeBytes]] edges (then seeds); when the whole graph fits, the
    * rounds run over primitive arrays on the driver
    * ([[relaxOnDriver]]) and no Spark job is launched per round.
    * Otherwise the distributed rounds ([[relaxDistancesDistributed]])
    * run. Both return identical rows.
    */
  private def relaxDistances(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String], seeds: DataFrame, seedCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"need 1 <= rounds <= 8, got $rounds")
    val (ed, sd) = relaxInputs(edges, srcCol, dstCol, weightCol, seeds, seedCol)
    val spark = edges.sparkSession
    val maxRows = math.min(
      GraftShim.sqlConf(spark).autoBroadcastJoinThreshold / EdgeBytes,
      Int.MaxValue - 1L).toInt
    // all rows of `df` when there are at most maxRows of them
    def fitting(df: DataFrame): Option[Array[Row]] =
      if (maxRows <= 0) None
      else Some(df.limit(maxRows + 1).collect()).filter(_.length <= maxRows)
    val nodeNullable = ed.schema("src").nullable ||
      ed.schema("dst").nullable || sd.schema("node").nullable
    (for (edgeRows <- fitting(ed); seedRows <- fitting(sd))
      yield relaxOnDriver(spark, edgeRows, seedRows, rounds, nodeNullable))
      .getOrElse(relaxDistancesDistributed(edges, srcCol, dstCol, weightCol,
        seeds, seedCol, rounds))
  }

  /** The driver finish of [[relaxDistances]], row-for-row the
    * distributed rounds' result. Node universe = non-null edge
    * endpoints ∪ non-null seeds, plus ONE null node whenever any
    * endpoint or seed is null; as in the distributed equi joins, a null
    * never matches — a null seed is unreached and an edge with a null
    * endpoint relaxes nothing. Each round reads only the previous
    * round's distances (synchronous), and `converged` compares the last
    * two rounds' arrays exactly.
    */
  private def relaxOnDriver(spark: SparkSession, edgeRows: Array[Row],
      seedRows: Array[Row], rounds: Int, nodeNullable: Boolean): DataFrame = {
    var hasNull = false
    val ids = new Array[Long](2 * edgeRows.length + seedRows.length)
    var k = 0
    def add(r: Row, i: Int): Unit =
      if (r.isNullAt(i)) hasNull = true else { ids(k) = r.getLong(i); k += 1 }
    edgeRows.foreach { r => add(r, 0); add(r, 1) }
    seedRows.foreach(add(_, 0))
    java.util.Arrays.sort(ids, 0, k)
    var n = 0
    var i = 0
    while (i < k) {
      if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    def idx(v: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, v)
    val live = edgeRows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val src = live.map(r => idx(r.getLong(0)))
    val dst = live.map(r => idx(r.getLong(1)))
    val w = live.map(_.getLong(2))
    var cur = Array.fill(n)(Inf)
    seedRows.foreach(r => if (!r.isNullAt(0)) cur(idx(r.getLong(0))) = 0L)
    var prev = cur
    var r = 0
    while (r < rounds) {
      prev = cur
      cur = prev.clone()
      var e = 0
      while (e < src.length) {
        val c = prev(src(e)) + w(e)
        if (c < cur(dst(e))) cur(dst(e)) = c
        e += 1
      }
      r += 1
    }
    val converged = java.util.Arrays.equals(prev, cur)
    val out = new java.util.ArrayList[Row](n + 1)
    if (hasNull) out.add(Row(null, -1L, false, converged))
    i = 0
    while (i < n) {
      val reached = cur(i) < Inf
      out.add(Row(ids(i), if (reached) cur(i) else -1L, reached, converged))
      i += 1
    }
    spark.createDataFrame(out, StructType(Seq(
      StructField("node", LongType, nodeNullable),
      StructField("dist", LongType, nullable = false),
      StructField("reached", BooleanType, nullable = false),
      StructField("converged", BooleanType, nullable = false))))
  }

  /** The distributed rounds of [[relaxDistances]], taken when the graph
    * exceeds the driver bound (callable directly so tests pin both
    * paths to the same rows).
    */
  private[graft] def relaxDistancesDistributed(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: Option[String], seeds: DataFrame,
      seedCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"need 1 <= rounds <= 8, got $rounds")
    val (ed0, sd0) = relaxInputs(edges, srcCol, dstCol, weightCol, seeds, seedCol)
    // materialize the edge table ONCE (the pageRank/hits posture): it
    // is joined every round, and uncheckpointed each round re-ran the
    // caller's full edge DERIVATION (link-graph windows + unions). The
    // weight gate raises during this materialization — same loud
    // contract, surfaced at loop entry instead of round 1.
    val ed = ed0.localCheckpoint(true)
    val sd = sd0.distinct().withColumn("__s", lit(1L))
    val nodes = ed.select(col("src").as("node"))
      .unionByName(ed.select(col("dst").as("node")))
      .unionByName(sd.select(col("node"))).distinct()
    var d = nodes.join(sd, Seq("node"), "left")
      .select(col("node"),
        when(col("__s").isNotNull, lit(0L)).otherwise(lit(Inf)).as("dist"))
      .localCheckpoint(true)
    // Change witness: order-invariant xxhash64-XOR fingerprint of the
    // (node, dist) rows — the Dedup CC convergence idiom (Dedup.scala
    // largeSmallStar); unlike a Σdist it cannot overflow at any node
    // count, and the node set is fixed so an unchanged fingerprint
    // means no distance changed (modulo a 2⁻⁶⁴ collision).
    def distFp(df: DataFrame): Long =
      df.agg(coalesce(bit_xor(xxhash64(col("node"), col("dist"))), lit(0L)))
        .head.getLong(0)
    // `converged` only compares the LAST round's fingerprint with the
    // one before it (the loop runs a fixed `rounds` regardless — no
    // early exit), so intermediate fingerprints were dead work: one
    // driver-blocking agg job per round. Keep the per-round
    // localCheckpoint (d is referenced twice per round — relax join +
    // merge join — so materialization prevents exponential replay) and
    // fingerprint only d_{rounds-1} and d_{rounds}, both already
    // materialized, after the loop.
    var prev = d
    var r = 0
    while (r < rounds) {
      val relaxed = ed
        .join(d.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(min(col("dist") + col("w")).as("__cand"))
      prev = d
      d = d.join(relaxed, Seq("node"), "left")
        .select(col("node"),
          least(col("dist"), coalesce(col("__cand"), lit(Inf))).as("dist"))
        .localCheckpoint(true)
      r += 1
    }
    val converged = distFp(d) == distFp(prev)
    d.select(col("node"),
      when(col("dist") < Inf, col("dist")).otherwise(lit(-1L)).as("dist"),
      (col("dist") < Inf).as("reached"),
      lit(converged).as("converged"))
  }

  /** L220 — MODULARITY of a node partition (Newman & Girvan 2004):
    * the community-quality score Q = Σ_c [in_c/m − (d_c/2m)²] that
    * prices a clustering of the link graph — "do my communities hold
    * more internal edges than a random graph with the same degrees
    * would" — the audit run after L116's label propagation or any CC
    * labeling before the labels drive sampling/sharding decisions.
    *
    * Semantics: edges are treated as UNDIRECTED (each contributes 1
    * to m and 2 to the degree sum; self-loops rejected loudly —
    * their modularity convention is ambiguous and the engine's link
    * graphs don't produce them). A node absent from `labels` fails
    * loudly via an inner-join count check rather than silently
    * dropping mass.
    *
    * Exactness: Q·4m² = Σ_c (4m·in_c − d_c²) is an exact BIGINT
    * (bounded by 4m²·m — longs to m ≈ 10⁶ edges per audit,
    * documented; at corpus scale the audit runs on the community
    * subgraph sample), per-community contributions exact, Q itself
    * one double division.
    *
    * Scale shape: two broadcast-free equi joins of edges → labels
    * (keyed on each endpoint), one per-community agg, one total agg —
    * nothing iterative, nothing pairwise.
    *
    * Input: edges (srcCol, dstCol) + labels (nodeCol, commCol).
    * Output: per community (community, n_nodes, in_edges, degree_sum,
    * q_num = 4m·in_c − d_c²) plus the scalars (m, q_den = 4m²) on
    * every row — Q = Σ q_num / q_den.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, commCol: String): DataFrame = {
    val ed = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // community ids normalize to strings so the loud-error branch
    // (raise_error is string-typed) unifies with the label column
    val lb = labels.select(col(nodeCol).cast("long").as("node"),
      col(commCol).cast("string").as("comm"))
    val tagged = ed
      .join(lb.withColumnRenamed("node", "src")
        .withColumnRenamed("comm", "cs"), Seq("src"), "left")
      .join(lb.withColumnRenamed("node", "dst")
        .withColumnRenamed("comm", "cd"), Seq("dst"), "left")
      .select(col("src"), col("dst"),
        when(col("cs").isNull || col("cd").isNull || col("src") === col("dst"),
          raise_error(concat(lit("modularity: self-loop or unlabeled "),
            lit("endpoint on edge "), col("src").cast("string"), lit("->"),
            col("dst").cast("string"))).cast("string"))
          .otherwise(col("cs")).as("cs"),
        col("cd"))
    // degree mass per community: each endpoint contributes 1
    val deg = tagged.select(col("cs").as("comm"))
      .unionByName(tagged.select(col("cd").as("comm")))
      .groupBy(col("comm")).agg(count(lit(1)).as("degree_sum"))
    val inc = tagged.filter(col("cs") === col("cd"))
      .groupBy(col("cs").as("comm")).agg(count(lit(1)).as("in_edges"))
    val nNodes = lb.groupBy(col("comm")).agg(count(lit(1)).as("n_nodes"))
    val m = tagged.agg(count(lit(1)).as("m"))
    nNodes.join(deg, Seq("comm"), "left").join(inc, Seq("comm"), "left")
      .crossJoin(broadcast(m))
      .select(col("comm").as("community"), col("n_nodes"),
        coalesce(col("in_edges"), lit(0L)).as("in_edges"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"), col("m"))
      .withColumn("q_num",
        lit(4L) * col("m") * col("in_edges")
          - col("degree_sum") * col("degree_sum"))
      .withColumn("q_den", lit(4L) * col("m") * col("m"))
  }

  /** L222 — DEGREE ASSORTATIVITY (Newman 2002): the Pearson
    * correlation of endpoint degrees across edges — "do hubs link to
    * hubs (r > 0) or to leaves (r < 0)". A crawl graph's r is a
    * link-farm signal: organic webs are disassortative, spam rings
    * assortative — read before link-derived quality weights (L115)
    * ship.
    *
    * Semantics: undirected convention — degree counts BOTH directions
    * of the edge list's incidences, every edge contributes its
    * endpoint pair once. r = (4M·Σjk − (Σ(j+k))²) /
    * (2M·Σ(j²+k²) − (Σ(j+k))²) — per-edge terms and their sums are
    * exact BIGINTs (j·k ≤ maxDeg², sums ≤ M·maxDeg²); the two final
    * products overflow longs on hub-heavy graphs, so they are formed
    * in DECIMAL(38,0) (the L157 discipline; DuckDB HUGEINT twin) and
    * r is one double division of the two exact decimals.
    *
    * Scale shape: one degree agg, two endpoint equi joins, one global
    * agg — the modularity shape, nothing iterative.
    *
    * Output: one row (m, s_jk, s_jpk, s_j2k2, r); r = −2 when the
    * denominator is 0 (degree-regular graph).
    */
  def assortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val ed = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val deg = ed.select(col("src").as("node"))
      .unionByName(ed.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    ed.join(deg.withColumnRenamed("node", "src")
        .withColumnRenamed("deg", "j"), Seq("src"))
      .join(deg.withColumnRenamed("node", "dst")
        .withColumnRenamed("deg", "k"), Seq("dst"))
      .agg(count(lit(1)).as("m"),
        sum(col("j") * col("k")).as("s_jk"),
        sum(col("j") + col("k")).as("s_jpk"),
        sum(col("j") * col("j") + col("k") * col("k")).as("s_j2k2"))
      .withColumn("__num",
        lit(4L).cast("decimal(38,0)") * col("m") * col("s_jk")
          - col("s_jpk").cast("decimal(38,0)") * col("s_jpk"))
      .withColumn("__den",
        lit(2L).cast("decimal(38,0)") * col("m") * col("s_j2k2")
          - col("s_jpk").cast("decimal(38,0)") * col("s_jpk"))
      .select(col("m"), col("s_jk"), col("s_jpk"), col("s_j2k2"),
        when(col("__den") =!= lit(0L).cast("decimal(38,0)"),
          col("__num").cast("double") / col("__den").cast("double"))
          .otherwise(lit(-2d)).as("r"))
  }

  /** L246 — GLOBAL CLUSTERING COEFFICIENT: 3·triangles / wedges —
    * the one-number transitivity read of a pair graph ("are my dup
    * neighborhoods clique-like or chain-like": near 1 = tight dup
    * cores the CC labels can be trusted on, near 0 = chained
    * borderline pairs where a single false edge strings clusters
    * together). Triangles reuse [[triangleCounts]]'s degree-ordered
    * enumeration (Σ per-node counts = 3T, every triangle counted once
    * per corner); wedges = Σ C(deg, 2) over the distinct undirected
    * degree table. Exact integers + one double division.
    *
    * Output: one row (n_nodes, m_edges, n_triangles, n_wedges,
    * coeff); −1 when the graph has no wedges.
    */
  def clusteringCoefficient(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val und = pairs.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val ds = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("(deg * (deg - 1L)) div 2L")).as("n_wedges"))
    val t3 = triangleCounts(und, "a", "b")
      .agg(coalesce(sum(col("n_tri")), lit(0L)).as("tri3"))
    val m = und.agg(count(lit(1)).as("m_edges"))
    ds.crossJoin(broadcast(t3)).crossJoin(broadcast(m))
      .select(col("n_nodes"), col("m_edges"),
        expr("tri3 div 3L").as("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0L,
          col("tri3").cast("double") / col("n_wedges").cast("double"))
          .otherwise(lit(-1d)).as("coeff"))
  }

  /** L237 — DEGREE-DISTRIBUTION PROFILE: node counts and degree mass
    * per power-of-2 degree bucket (the L171 seqlen-histogram idiom on
    * the undirected degree) — the one-table read of a link graph's
    * shape: a heavy top bucket is the hub tail that every wedge/pair
    * operator here caps against (L230's degCap, the L145 triangle
    * posture), and bucket drift between crawls is structural drift
    * (spam rings mint mid-degree mass). floor(log2(deg)) computed
    * exactly via the binary-string length (no IEEE log), buckets
    * domain-bounded at 64 rows.
    *
    * Output: (bucket, lo_deg, n_nodes, min_deg, max_deg, sum_deg).
    */
  def degreeProfile(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val ed = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    ed.select(col("src").as("node"))
      .unionByName(ed.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .withColumn("bucket",
        (length(conv(col("deg"), 10, 2)) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"), sum(col("deg")).as("sum_deg"))
      .withColumn("lo_deg", expr("CAST(pow(2, bucket) AS BIGINT)"))
      .select(col("bucket"), col("lo_deg"), col("n_nodes"),
        col("min_deg"), col("max_deg"), col("sum_deg"))
  }

  /** L230 — NEIGHBORHOOD-JACCARD LINK PREDICTION: for node pairs that
    * share at least one neighbor, the exact Jaccard of their (pruned)
    * neighborhoods — the classic common-neighbors signal for entity
    * resolution on co-citation graphs ("two domains cited by the same
    * pages are probably related") and the L116-adjacent merge score.
    *
    * Scale contract: a hub neighbor manufactures deg² candidate pairs
    * and carries no signal (everyone shares the hub), so nodes with
    * degree > `degCap` are PRUNED from every neighborhood before
    * anything pairs — the winnow/df-cap posture, part of the
    * operator's definition (the oracle replays the same pruned
    * universe; documented, not a silent approximation). The wedge
    * join is then bounded by degCap per shared neighbor. Top-k pairs
    * by (jaccard, common, pair) via distributed
    * TakeOrderedAndProject.
    *
    * Output: (u, v, common, deg_u, deg_v, jaccard_e6), u < v.
    */
  def neighborJaccard(edges: DataFrame, srcCol: String, dstCol: String,
      degCap: Int, topK: Int): DataFrame = {
    val ed = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val und = ed.select(col("src").as("node"), col("dst").as("nbr"))
      .unionByName(ed.select(col("dst").as("node"), col("src").as("nbr")))
      .filter(col("node") =!= col("nbr")).distinct()
    val deg = und.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // prune hub NEIGHBORS from every neighborhood (degree of the
    // neighbor itself, not of the owning node)
    // Eager cache: pruned feeds THREE branches (pdeg + both sides of
    // the wedge self-join) and its lineage re-derives the exploded
    // distinct edge table + degree join per branch — ~7x the edge-table
    // derivation uncached. At sf0.1 the query is wedge-join-bound so
    // this is time-neutral locally (2.5 s before, 2.8 s after, ±20%
    // noise band); at corpus scale the derivation is the full edge
    // pass, where single evaluation is the win. MEMORY_AND_DISK LRU.
    val pruned = und
      .join(deg.withColumnRenamed("node", "nbr")
        .withColumnRenamed("deg", "__nd"), Seq("nbr"))
      .filter(col("__nd") <= degCap)
      .select(col("node"), col("nbr"))
      .cache()
    pruned.count()
    val pdeg = pruned.groupBy(col("node")).agg(count(lit(1)).as("pdeg"))
    // wedge via per-w sorted neighbor arrays: every group is the
    // neighborhood of a degree-≤cap node (only low-degree nodes survive
    // the prune as `nbr`), so the array is bounded by degCap and the
    // pair explosion + partial (u, v) agg run map-side after ONE
    // shuffle of `pruned` — the former self-join shuffled it twice and
    // sort-merged both sides (guide §2.4)
    val common = pruned.groupBy(col("nbr"))
      .agg(sort_array(collect_list(col("node"))).as("__ids"))
      .select(graft.ops.Dedup.sortedPairs("__ids").as("p"))
      .select(col("p.a").as("u"), col("p.b").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("common"))
    common
      .join(pdeg.withColumnRenamed("node", "u")
        .withColumnRenamed("pdeg", "deg_u"), Seq("u"))
      .join(pdeg.withColumnRenamed("node", "v")
        .withColumnRenamed("pdeg", "deg_v"), Seq("v"))
      .withColumn("jaccard_e6",
        expr("(common * 1000000L) div (deg_u + deg_v - common)"))
      .select(col("u"), col("v"), col("common"), col("deg_u"),
        col("deg_v"), col("jaccard_e6"))
      .orderBy(col("jaccard_e6").desc, col("common").desc, col("u"),
        col("v"))
      .limit(topK)
  }

  /** L314 — RESOURCE-ALLOCATION LINK PREDICTION (Zhou/Lü/Zhang 2009):
    * the common-neighbor signal that WEIGHTS each shared neighbor by
    * 1/deg — a rare shared neighbor is strong evidence, a popular one
    * almost none — empirically the strongest of the local indices and
    * the natural next step from the unweighted count inside
    * [[neighborJaccard]] (L230). Each shared neighbor w contributes
    * the exact integer (10⁶ div deg_w), so ra_e6 is an exact sum the
    * oracle replays; ties in the top-k break on (common, u, v).
    *
    * Scale contract: the same hub prune as L230 (neighbors with
    * degree > degCap leave every neighborhood before pairing) — here
    * it is barely even an approximation, because a pruned hub's term
    * is the SMALLEST possible (1/deg ≤ 1/degCap); the wedge join
    * stays bounded by degCap per shared neighbor. deg_w is the TRUE
    * degree (computed before the prune) — the prune bounds the
    * candidate universe, not the weights.
    *
    * Output: (u, v, common, ra_e6), u < v, top-k by (ra_e6, common).
    */
  def resourceAllocation(edges: DataFrame, srcCol: String, dstCol: String,
      degCap: Int, topK: Int): DataFrame = {
    val ed = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val und = ed.select(col("src").as("node"), col("dst").as("nbr"))
      .unionByName(ed.select(col("dst").as("node"), col("src").as("nbr")))
      .filter(col("node") =!= col("nbr")).distinct()
    val deg = und.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // eager cache: both sides of the wedge self-join re-derived the
    // exploded distinct edge table + degree join (see neighborJaccard)
    val pruned = und
      .join(deg.withColumnRenamed("node", "nbr")
        .withColumnRenamed("deg", "__nd"), Seq("nbr"))
      .filter(col("__nd") <= degCap)
      .select(col("node"), col("nbr"),
        expr("1000000L div __nd").as("__term"))
      .cache()
    pruned.count()
    // wedge via per-w sorted neighbor arrays (bounded by degCap — see
    // neighborJaccard above); __term = 10⁶ div deg(w) is constant per
    // group, so it rides the group key and sums per emitted pair
    pruned.groupBy(col("nbr"), col("__term"))
      .agg(sort_array(collect_list(col("node"))).as("__ids"))
      .select(col("__term"), graft.ops.Dedup.sortedPairs("__ids").as("p"))
      .select(col("p.a").as("u"), col("p.b").as("v"), col("__term"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common"), sum(col("__term")).as("ra_e6"))
      .orderBy(col("ra_e6").desc, col("common").desc, col("u"), col("v"))
      .limit(topK)
  }

  /** L326 — EXACT HARMONIC CENTRALITY within radius r: h(v) =
    * Σ_{0<d(v,u)≤r} 1/d(v,u) — the centrality HyperBall (L201)
    * approximates at corpus scale, computed EXACTLY on a bounded
    * radius: each term is the exact integer 10⁶ div d, so the oracle
    * replays the sum bit-for-bit. Harmonic (not closeness) because it
    * handles disconnected graphs natively — unreachable pairs simply
    * contribute nothing, no infinite-distance convention needed
    * (Boldi & Vigna's argument).
    *
    * Scale contract: the frontier table holds (root, node) pairs —
    * |V|·|ball_r| rows — so r is a SMALL bounded constant (≤ 3,
    * validated loudly) and the op is the exact-diagnostic tier next
    * to L201's sketch tier (the cosinePairs/HyperBall relationship).
    * Each round is one equi-join + min-dist rollup on the pair key.
    *
    * Output: top-k (node, n_ball, h_e6) by (h_e6 desc, node).
    */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, topK: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 3,
      s"rounds must be 1..3 (the exact-tier contract), got $rounds")
    val ed = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val und = ed.unionByName(ed.select(col("dst").as("src"),
        col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      // joined every round — materialize once (the pageRank posture)
      .localCheckpoint(true)
    var frontier = und.select(col("src").as("root"), col("src").as("node"))
      .distinct().withColumn("dist", lit(0L))
    for (_ <- 1 to rounds) {
      val next = frontier
        .join(und, frontier("node") === und("src"))
        .select(col("root"), col("dst").as("node"),
          (col("dist") + 1L).as("dist"))
      frontier = frontier.unionByName(next)
        .groupBy(col("root"), col("node"))
        .agg(min(col("dist")).as("dist"))
    }
    frontier.filter(col("dist") > 0L)
      .groupBy(col("root"))
      .agg(count(lit(1)).as("n_ball"),
        sum(expr("1000000L div dist")).as("h_e6"))
      .select(col("root").as("node"), col("n_ball"), col("h_e6"))
      .orderBy(col("h_e6").desc, col("node"))
      .limit(topK)
  }

  /** L223 — EDGE RECIPROCITY: the fraction of directed edges whose
    * reverse edge exists — the mutual-link rate that separates organic
    * cross-citation from one-way link dumping (and, on the event
    * graph, measures back-and-forth navigation). One distinct pass +
    * one self equi semi-join on the swapped key — nothing quadratic.
    *
    * Output: one row (m, n_recip, recip_e6) over the DISTINCT edge
    * set (duplicate directed edges collapse — documented; reciprocity
    * is a property of the relation, not the multiset).
    */
  def reciprocity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val ed = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
    val rec = ed.join(ed.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    ed.agg(count(lit(1)).as("m"))
      .crossJoin(broadcast(rec.agg(count(lit(1)).as("n_recip"))))
      .withColumn("recip_e6",
        when(col("m") > 0L, expr("(n_recip * 1000000L) div m"))
          .otherwise(lit(-1L)))
  }
}
