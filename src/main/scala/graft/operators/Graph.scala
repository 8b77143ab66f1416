package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph operators over the NoWDB edge model (SURVEY §1.1: a graph is
  * vertex-type tables + edge tables with origin/destin FKs; M6 in the
  * build plan). GraphFrames-style: a graph is just a pair of
  * DataFrames, every operator is a join/agg pipeline Catalyst can
  * optimize — no bespoke graph runtime.
  *
  * Scale: degree/neighbor ops are single shuffles on vertex ids;
  * multi-hop ops chain equi-joins (AQE picks broadcast vs SMJ by
  * side size); connected components is iterative min-label
  * propagation with per-iteration localCheckpoint to keep lineage
  * flat — the standard large-graph pattern.
  */
object Graph {

  /** In/out degree per vertex. */
  def degrees(edges: DataFrame, src: String, dst: String): DataFrame = {
    val out = edges.groupBy(col(src).as("vertex"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col(dst).as("vertex"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("vertex"), "full_outer")
      .select(col("vertex"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Two-hop motif a→b→c across two edge sets: (a)-[e1]->(b)-[e2]->(c). */
  def twoHop(e1: DataFrame, src1: String, dst1: String,
             e2: DataFrame, src2: String, dst2: String): DataFrame =
    e1.select(col(src1).as("a"), col(dst1).as("b"))
      .join(e2.select(col(src2).as("b"), col(dst2).as("c")), "b")
      .select(col("a"), col("b"), col("c"))

  /** Vertex pairs on the `dst` side sharing at least `minShared`
    * common `src` neighbors (co-occurrence graph). One shuffle on the
    * src id (groupBy + collect_set, map-side combined) and in-row pair
    * expansion — instead of the textbook self-join, which shuffles the
    * edge set three times (distinct, join, count) and re-scans it
    * twice. Pairs per src still grow quadratically with out-degree,
    * so skewed hubs should be capped upstream at extreme scale. */
  def commonNeighborPairs(edges: DataFrame, src: String, dst: String,
                          minShared: Long): DataFrame =
    edges.select(col(src).as("s"), col(dst).as("d"))
      .groupBy(col("s"))
      .agg(sort_array(collect_set(col("d"))).as("ds"))
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds")) - i - 1),
          y => struct(x.as("d_a"), y.as("d_b")))))).as("p"))
      .groupBy(col("p.d_a").as("d_a"), col("p.d_b").as("d_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)

  /** Global triangle count of the undirected simple graph given by
    * `edges`, with degree-ordered orientation (Suri–Vassilvitskii):
    * every edge is directed from its lower-(degree, id) endpoint to
    * the higher one, wedges are generated only at each edge's *low*
    * endpoint, and a wedge (b, c) closes iff the oriented edge b→c
    * exists. Each triangle is produced exactly once, and the wedge
    * fan-out per vertex is bounded by its *oriented* out-degree —
    * O(√m) on any graph — so a celebrity hub with 10^7 neighbors
    * generates ~m^1.5 total work instead of 10^14 wedges. Plain
    * id-ordering (the naive oracle formulation) has no such bound.
    * Output: one row, `n_triangles`. */
  def triangleCount(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = edges
      .select(least(col(src), col(dst)).as("u"),
        greatest(col(src), col(dst)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = e.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("dx"))
    // π(x) = (degree, id); orient low-π → high-π
    val ranked = e
      .join(deg.select(col("x").as("u"), col("dx").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("dx").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("a"), col("v").as("b")))
          .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("e"))
    val o = ranked.select(col("e.a").as("a"), col("e.b").as("b")).persist()
    o.count()
    // wedges at the low endpoint, π-ordered so (b, c) is oriented
    val w1 = o.select(col("a"), col("b"))
    val w2 = o.select(col("a"), col("b").as("c"))
    val wedges = w1.join(w2, "a").filter(col("b") < col("c"))
    // π-order on ids within a's out-neighborhood is NOT (deg,id)-order;
    // check the closing edge in both directions — orientation made the
    // edge set a DAG, so exactly one direction can exist.
    val closedFwd = wedges.join(
      o.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"),
      "left_semi")
    val closedRev = wedges.join(
      o.select(col("a").as("c"), col("b").as("b")), Seq("b", "c"),
      "left_semi")
    val res = closedFwd.unionAll(closedRev)
      .agg(count(lit(1)).as("n_triangles"))
    val out = res.localCheckpoint(true)
    o.unpersist(blocking = false)
    out
  }

  /** PageRank by synchronous power iteration: rank' = (1−d)/N +
    * d·Σ rank/out_deg over incoming edges (+ redistributed dangling
    * mass, so Σrank stays 1). Each iteration: one join on src + one
    * aggregation on dst, lineage cut per iteration — the same
    * flat-plan pattern as [[connectedComponents]]. Output: (vertex,
    * rank). */
  def pageRank(edges: DataFrame, src: String, dst: String,
               iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val e = edges.select(col(src).as("s"), col(dst).as("d"))
      .distinct().localCheckpoint()
    val verts = e.select(col("s").as("v"))
      .unionAll(e.select(col("d").as("v"))).distinct().localCheckpoint()
    val n = verts.count()
    val outDeg = e.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    var ranks = verts.withColumn("rank", lit(1.0 / n)).localCheckpoint()
    for (_ <- 1 to iters) {
      val withDeg = ranks.join(outDeg, ranks("v") === outDeg("s"), "left")
        .select(col("v"), col("rank"), col("deg"))
      // dangling vertices (no out-edges) spread their rank uniformly.
      // The mass is a 1-row aggregate broadcast back into the update —
      // NOT a driver collect — so each iteration stays a single job
      // and no driver round-trip sits inside the loop at scale.
      val dangling = withDeg.filter(col("deg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
      val contrib = withDeg.filter(col("deg").isNotNull)
        .join(e, col("s") === col("v"))
        .select(col("d"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("d")).agg(sum(col("c")).as("in_rank"))
      ranks = verts.join(contrib, verts("v") === contrib("d"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("v"), (lit((1.0 - damping) / n) +
          lit(damping) * (coalesce(col("in_rank"), lit(0.0)) +
            col("dm") / n)).as("rank"))
        // lazy lineage cut — no per-iteration driver job (see kCore)
        .localCheckpoint(false)
    }
    ranks
  }

  /** Integer-exact PageRank: [[pageRank]] recast in scaled-integer
    * arithmetic so the result is BIT-IDENTICAL across engines —
    * rank mass starts as `scale // N` per vertex and every step is a
    * BIGINT floor division (`contribution = rank // out_deg`,
    * `rank' = (15·(scale//N))//100 + (85·in_sum)//100`), which makes
    * the whole power iteration differentially testable against a SQL
    * recompute (doubles drift in the last ulps per engine and per
    * partition-sum order; integers cannot). Two deliberate deviations
    * from the float form, both deterministic: floor-division remainder
    * mass evaporates (< N·iters parts per `scale`), and dangling
    * vertices drop their mass instead of redistributing it (the
    * "strongly preferential" variant — redistributing needs a
    * per-iteration driver scalar, which this form deliberately avoids:
    * no collect anywhere, the iteration is pure joins + aggregates, so
    * N iterations schedule as one DAG). Callers with dangling-heavy
    * graphs should add self-loops upstream or use [[pageRank]].
    * `iters` is expected to be small (rank queries, not convergence
    * runs); lineage stays shallow because each iteration is two joins
    * deep over the same cached edge frame. */
  def pageRankInt(edges: DataFrame, src: String, dst: String,
                  iters: Int = 3, scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col(src).as("s"), col(dst).as("d"))
      .distinct().localCheckpoint()
    val verts = e.select(col("s").as("v"))
      .unionAll(e.select(col("d").as("v"))).distinct().localCheckpoint()
    val n = verts.agg(count(lit(1)).as("n_verts"))
    val outDeg = e.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    def idiv(a: Column, b: Column): Column = call_function("div", a, b)
    var ranks = verts.crossJoin(broadcast(n))
      .select(col("v"), idiv(lit(scale), col("n_verts")).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = ranks.join(outDeg, ranks("v") === outDeg("s"))
        .select(col("s"), idiv(col("rank"), col("deg")).as("c"))
        .join(e, "s")
        .groupBy(col("d")).agg(sum(col("c")).as("in_sum"))
      ranks = verts.join(contrib, verts("v") === contrib("d"), "left")
        .crossJoin(broadcast(n))
        .select(col("v"),
          (idiv(lit(15L) * idiv(lit(scale), col("n_verts")), lit(100L)) +
            idiv(lit(85L) * coalesce(col("in_sum"), lit(0L)), lit(100L)))
            .as("rank"))
    }
    ranks
  }

  /** Personalized PageRank in exact integer arithmetic (Haveliwala
    * 2002): identical update to [[pageRankInt]] except the teleport
    * mass returns ONLY to the seed set (scale/|S| each), so rank
    * concentrates in the seeds' neighborhoods — the graph-proximity
    * data-selection primitive (pick training docs "near" a trusted
    * seed set). Same scale shape: per iteration one keyed contrib
    * shuffle; the teleport frame is precomputed once and reused, and
    * all arithmetic is integer div so DuckDB replays it bit-exactly. */
  def personalizedPageRankInt(edges: DataFrame, src: String,
      dst: String, seeds: DataFrame, seedCol: String, iters: Int = 3,
      scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col(src).as("s"), col(dst).as("d"))
      .distinct().localCheckpoint()
    val verts = e.select(col("s").as("v"))
      .unionAll(e.select(col("d").as("v"))).distinct().localCheckpoint()
    val sd = seeds.select(col(seedCol).as("v")).distinct()
      .join(verts, Seq("v"), "left_semi").localCheckpoint()
    // fail fast on an empty (post-semi-join) seed set: n_seeds = 0
    // would null every integer-div teleport term and silently emit
    // all-null ranks (review finding). 1-row bounded collect.
    val nSeeds = sd.count()
    require(nSeeds > 0,
      "personalizedPageRankInt: seed set shares no vertex with the " +
        "graph - ranks would be all-null")
    val ns = sd.agg(count(lit(1)).as("n_seeds"))
    def idiv(a: Column, b: Column): Column = call_function("div", a, b)
    val base = verts
      .join(sd.withColumn("is_seed", lit(1L)), Seq("v"), "left")
      .crossJoin(broadcast(ns))
      .select(col("v"), (coalesce(col("is_seed"), lit(0L))
        * idiv(lit(scale), col("n_seeds"))).as("tp"))
      .localCheckpoint()
    val outDeg = e.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    var ranks = base.select(col("v"), col("tp").as("rank"))
    for (_ <- 1 to iters) {
      val contrib = ranks.join(outDeg, ranks("v") === outDeg("s"))
        .select(col("s"), idiv(col("rank"), col("deg")).as("c"))
        .join(e, "s")
        .groupBy(col("d")).agg(sum(col("c")).as("in_sum"))
      ranks = base.join(contrib, base("v") === contrib("d"), "left")
        .select(base("v"),
          (idiv(lit(15L) * col("tp"), lit(100L)) +
            idiv(lit(85L) * coalesce(col("in_sum"), lit(0L)),
              lit(100L))).as("rank"))
    }
    ranks
  }

  /** Drop the blocks of frames a loop checkpointed or persisted, once
    * its result is sealed and nothing reads them. `Dataset.unpersist`
    * does not reach a localCheckpoint frame, which scans a persisted
    * RDD rather than a cached plan, so that RDD is unpersisted itself,
    * as the engine's recursion loop does. */
  private def release(frames: Iterable[DataFrame]): Unit =
    frames.foreach(f => f.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => f.unpersist(blocking = false)
    })

  /** Multi-source BFS hop distances over an undirected edge list:
    * (v, dist) with dist = fewest hops from any seed, bounded by
    * `maxHops`. Frontier-at-a-time expansion — each round is one
    * semi-join (frontier → neighbors) + one anti-join (drop already
    * visited), lineage cut per round like [[connectedComponents]].
    * Seeds with no edges still appear at dist 0. This is the
    * distance-labelled generalization of the reference's k-hop
    * reach cursors (SURVEY §2.3; reference edge traversal is one
    * origin-index probe per hop, reader.c): per hop exactly one
    * shuffle keyed on the frontier, nothing quadratic, so it scales
    * to billion-edge graphs where per-vertex Dijkstra never would. */
  def bfsDistances(edges: DataFrame, src: String, dst: String,
                   seeds: DataFrame, seedCol: String,
                   maxHops: Int): DataFrame = {
    // symmetrize by in-row explode (one evaluation of the edge
    // subtree), not unionAll-of-two-selects (two) — edge frames are
    // often expensive aggregates (co-occurrence graphs)
    val sym = edges.select(explode(array(
        struct(col(src).as("u"), col(dst).as("v")),
        struct(col(dst).as("u"), col(src).as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .localCheckpoint()
    var visited = seeds.select(col(seedCol).as("v")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint()
    val held = scala.collection.mutable.ArrayBuffer(sym, visited)
    var frontier = visited.select(col("v"))
    var hop = 1L
    var done = false
    while (!done && hop <= maxHops) {
      // EAGER checkpoint per hop (r16, reversing the r15 lazy-persist
      // choice): a lazily-persisted leg only truncates the PLAN after
      // it materializes, and with the ≤6-hop probe skip nothing
      // materializes until the final job — so every hop's AQE stage
      // shipped the whole accumulated plan, and thread sampling
      // showed per-task ObjectInputStream.readObject (task-binary
      // deser, paid per task × 32 partitions) dominating executor
      // CPU. One extra job per hop buys flat Scan-ExistingRDD plans
      // downstream: paired A/B (q315 control flat) q316 2.34→0.93 s,
      // q128 0.59→0.50, q134 1.23→1.03.
      val next = sym
        .join(frontier.select(col("v").as("u")), Seq("u"), "left_semi")
        .select(col("v")).distinct()
        .join(visited, Seq("v"), "left_anti")
        .withColumn("dist", lit(hop))
        .localCheckpoint(true)
      held += next
      // the final hop folds in unconditionally — an emptiness probe
      // there is dead work (the loop exits either way). For SHORT
      // bounded walks (≤6 hops) skip the probe entirely: each probe
      // schedules one extra job, and an undetected-empty frontier
      // just makes the remaining rounds no-op joins over zero rows —
      // bit-identical output, fewer driver round-trips. Long walks
      // keep the probe (there the skipped rounds are the savings).
      if (hop < maxHops && maxHops > 6 && next.isEmpty) done = true
      else {
        val grown = visited.unionAll(next)
        visited =
          if (hop % 4 == 0) { val c = grown.localCheckpoint(); held += c; c }
          else grown
        frontier = next.select(col("v"))
      }
      hop += 1
    }
    // seal: materialize the (vertex-count-sized) result once, then
    // release every frame the loop held — otherwise each call pins
    // them for the application lifetime (the long-lived wire Server
    // would accumulate them indefinitely)
    val out = visited.localCheckpoint(true)
    release(held)
    out
  }

  /** Per-seed BFS hop distances over an undirected edge list:
    * (seed, v, dist) with dist = fewest hops from THAT seed — the
    * labelled variant of [[bfsDistances]] (which min-folds all seeds
    * into one distance). State is |seeds| × reachable-set keyed on
    * (seed, v); with a handful of landmarks this is the standard
    * multi-source labelled BFS used for landmark centrality
    * estimates (Eppstein–Wang style), and all L walks advance in the
    * SAME per-hop join — one shuffle per hop regardless of L, never
    * one BFS job per landmark. Same eager per-hop checkpoint
    * discipline as [[bfsDistances]] (r16 — see its in-loop note). */
  def bfsDistancesLabeled(edges: DataFrame, src: String, dst: String,
                          seeds: DataFrame, seedCol: String,
                          maxHops: Int): DataFrame = {
    val sym = edges.select(explode(array(
        struct(col(src).as("u"), col(dst).as("v")),
        struct(col(dst).as("u"), col(src).as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .localCheckpoint()
    var visited = seeds.select(col(seedCol).as("seed")).distinct()
      .select(col("seed"), col("seed").as("v"))
      .withColumn("dist", lit(0L)).localCheckpoint()
    val held = scala.collection.mutable.ArrayBuffer(sym, visited)
    var frontier = visited.select(col("seed"), col("v"))
    var hop = 1L
    var done = false
    while (!done && hop <= maxHops) {
      val next = sym
        .join(frontier.select(col("seed"), col("v").as("u")), Seq("u"))
        .select(col("seed"), col("v")).distinct()
        .join(visited, Seq("seed", "v"), "left_anti")
        .withColumn("dist", lit(hop))
        .localCheckpoint(true)
      held += next
      // short-walk probe skip — same reasoning as bfsDistances
      if (hop < maxHops && maxHops > 6 && next.isEmpty) done = true
      else {
        val grown = visited.unionAll(next)
        visited =
          if (hop % 4 == 0) { val c = grown.localCheckpoint(); held += c; c }
          else grown
        frontier = next.select(col("seed"), col("v"))
      }
      hop += 1
    }
    val out = visited.localCheckpoint(true)
    release(held)
    out
  }

  /** Bounded-hop single-source (multi-seed) shortest paths over a
    * weighted undirected edge list: (v, dist) = cheapest cost over
    * paths of ≤ `maxHops` edges from any seed — Bellman-Ford rounds
    * with frontier pruning (only vertices whose cost improved last
    * round relax their edges; the others provably contribute nothing
    * new). Weights must be non-negative. Each round is one join on
    * the frontier + one min-reduce keyed on the vertex — the min-plus
    * generalization of [[bfsDistances]], same eager per-round
    * checkpoint discipline (r16 — see bfsDistances' in-loop note). Early-exits when a round
    * improves nothing (then longer paths can't either). */
  def ssspBounded(edges: DataFrame, src: String, dst: String,
                  wCol: String, seeds: DataFrame, seedCol: String,
                  maxHops: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // in-row symmetrization — see bfsDistances for why not unionAll
    val sym = edges.select(explode(array(
        struct(col(src).as("u"), col(dst).as("v"), col(wCol).as("w")),
        struct(col(dst).as("u"), col(src).as("v"), col(wCol).as("w"))))
        .as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"), col("p.w").as("w"))
      .localCheckpoint()
    var dist = seeds.select(col(seedCol).as("v")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint()
    val held = scala.collection.mutable.ArrayBuffer(sym, dist)
    var frontier = dist
    var hop = 1
    var done = false
    while (!done && hop <= maxHops) {
      val relax = sym.join(
          frontier.select(col("v").as("u"), col("dist").as("du")),
          Seq("u"))
        .select(col("v"), (col("du") + col("w")).as("dist"))
      val next = dist.unionAll(relax)
        .groupBy(col("v")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
      held += next
      if (hop == maxHops) {
        // last round: the result is `next` regardless — computing the
        // improved set would be a pure-overhead join + action
        dist = next
        done = true
      } else {
        val improved = next
          .join(dist.select(col("v"), col("dist").as("old")), Seq("v"),
            "left")
          .filter(col("old").isNull || col("dist") < col("old"))
          .select(col("v"), col("dist"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        held += improved
        // short-walk probe skip — same reasoning as bfsDistances: an
        // undetected-converged frontier only adds no-op relax rounds
        // (min-fold of an empty relax set is `dist` unchanged)
        if (maxHops > 6 && improved.isEmpty) done = true
        else {
          dist = next // already eagerly checkpointed above (r16)
          frontier = improved
        }
      }
      hop += 1
    }
    // seal + release (same lifecycle as bfsDistances)
    val out = dist.localCheckpoint(true)
    release(held)
    out
  }

  /** Undirected connected components by min-label propagation with
    * pointer jumping. Converges in O(log diameter) rounds; each round
    * is a neighbor-propagation join + min-reduce, then a label-lookup
    * join that adopts comp(comp) (label doubling), each followed by a
    * localCheckpoint for flat lineage. Convergence is detected from
    * Σcomp, which strictly decreases until the fixpoint, so the check
    * rides a tiny aggregate instead of a join-and-compare pass. The
    * sum is carried as decimal(38,0): with billions of 64-bit vertex
    * ids a long Σ would overflow (ANSI abort / silent wrap), while
    * decimal(38,0) holds ~1e19 max-magnitude ids loss-free. */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
                          maxIter: Int = 20): DataFrame = {
    // (a,b) with a<b plus the mirror — already distinct if the input
    // pair list is; a duplicate edge would not change min-labels anyway
    val sym = edges.select(col(src).as("a"), col(dst).as("b"))
      .unionAll(edges.select(col(dst).as("a"), col(src).as("b")))
      .localCheckpoint()
    var labels = sym.select(col("a").as("v")).distinct()
      .withColumn("comp", col("v")).localCheckpoint()
    // CONVERGENCE-COLLECT CONTRACT (same as pageRank's dangling-mass
    // broadcast): this collect() returns exactly ONE aggregate row per
    // iteration — a scalar driver probe, never data-sized. The loop
    // cost is maxIter single-row fetches, independent of graph size;
    // do not imitate this shape for anything that scales with |V|.
    def compSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("comp").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")))
        .collect()(0).getDecimal(0)
    var prevSum = compSum(labels)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val prop = sym.join(labels, sym("b") === labels("v"))
        .select(col("a").as("v"), col("comp"))
      // materialized before the self-join below (also sidesteps
      // Catalyst's constraint rewrite over self-joined Union plans)
      val stepped = labels.unionAll(prop)
        .groupBy(col("v")).agg(min(col("comp")).as("comp"))
        .localCheckpoint()
      // pointer jump (label doubling): also adopt the label OF the
      // label — comp values are vertex ids, so the self-join resolves
      // comp → comp(comp), halving label distances each round. Total
      // convergence is O(log diameter) instead of O(diameter), which
      // is the difference between 9 and 300 rounds on a 300-link
      // chain (maxIter would silently truncate the latter).
      val lookup = stepped
        .select(col("v").as("lv"), col("comp").as("lcomp"))
      val next = stepped.join(lookup, col("comp") === col("lv"))
        .select(col("v"), least(col("comp"), col("lcomp")).as("comp"))
        .localCheckpoint()
      val newSum = compSum(next)
      converged = newSum.compareTo(prevSum) == 0
      prevSum = newSum
      labels = next
      it += 1
    }
    labels
  }

  /** k-core of the undirected simple graph given by `edges`: the
    * maximal subgraph in which every vertex keeps degree ≥ k,
    * computed by synchronous peeling — each round discards every
    * vertex whose degree in the CURRENT surviving subgraph is < k
    * (reference has no graph ops; this is the standard corpus-graph
    * triage: spam/bot rings and isolated tails peel away, dense cores
    * survive). A round is one degree aggregation + two semi-joins on
    * the vertex id — all shuffle-partitioned by vertex, no all-pairs
    * work, so a round costs O(|E|) at any scale.
    *
    * `rounds` is FIXED rather than convergence-probed: the whole
    * computation stays a deterministic stage-for-stage-replayable DAG
    * (the q196 oracle unrolls exactly the same rounds), at the cost
    * of no-op rounds after the fixpoint. A production variant would
    * ride a one-row Σ|V| probe per round like [[connectedComponents]]
    * and early-exit; peeling depth is usually ≤ a few dozen rounds on
    * real graphs (degeneracy ordering removes whole shells at once).
    * Output: (vertex, core_deg) over the surviving subgraph — empty
    * if the graph has no k-core. */
  def kCore(edges: DataFrame, src: String, dst: String, k: Int,
            rounds: Int): DataFrame = {
    // undirected simple graph, symmetrized in-row (see bfsDistances
    // for why explode beats unionAll on expensive edge frames)
    val und = edges
      .select(least(col(src), col(dst)).as("u"),
        greatest(col(src), col(dst)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    var g = und.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .localCheckpoint()
    var r = 0
    while (r < rounds) {
      // symmetric edge list ⇒ grouping on u alone counts every
      // vertex's full neighborhood
      val alive = g.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("u"))
      // lineage cut per round: the surviving edge list feeds THREE
      // consumers next round (degree agg + both semi-joins); without
      // the cut the plan tree doubles per round. LAZY checkpoint:
      // an eager one schedules a driver job per round (6 jobs of
      // pure overhead on a bounded edge cut); lazy still
      // materializes-once-and-reuses at first consumption, so the
      // whole peel compiles into one job — identical results
      g = g.join(alive, Seq("u"), "left_semi")
        .join(alive.select(col("u").as("v")), Seq("v"), "left_semi")
        .localCheckpoint(false)
      r += 1
    }
    g.groupBy(col("u")).agg(count(lit(1)).as("core_deg"))
      .select(col("u").as("vertex"), col("core_deg"))
  }

  /** Synchronous WEIGHTED label propagation (community detection over
    * an undirected weighted edge list): from label(v) = v, every round
    * each vertex adopts the neighbor label with the largest incident
    * weight sum — ties broken toward the SMALLER label, so with
    * integer weights every round is a pure function of the previous
    * one and an external engine replays the whole run stage-for-stage
    * (q201's oracle). Each round costs one edge join + one (v, label)
    * weight aggregate + one argmax reduce — all vertex-keyed
    * shuffles, lineage cut per round; communities emerge in a handful
    * of rounds on modular graphs. `rounds` is FIXED for oracle
    * parity; a production variant probes label churn (one-row
    * aggregate, see connectedComponents' convergence-collect
    * contract) and stops early. Output: (vertex, label). */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
                       wCol: String, rounds: Int): DataFrame = {
    val sym = edges.select(explode(array(
        struct(col(src).as("u"), col(dst).as("v"), col(wCol).as("w")),
        struct(col(dst).as("u"), col(src).as("v"), col(wCol).as("w"))))
        .as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"), col("p.w").as("w"))
      .localCheckpoint()
    var labels = sym.select(col("u").as("v")).distinct()
      .withColumn("lbl", col("v")).localCheckpoint()
    var r = 0
    while (r < rounds) {
      // argmax via struct max: (weight sum, −label) orders first by
      // ws descending, then by label ASCENDING — the deterministic
      // tie-break the oracle mirrors with ORDER BY ws DESC, lbl ASC
      labels = sym
        .join(labels.select(col("v").as("u"), col("lbl")), "u")
        .groupBy(col("v"), col("lbl"))
        .agg(sum(col("w")).as("ws"))
        .groupBy(col("v"))
        .agg(max(struct(col("ws"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("v"), (-col("m.nl")).as("lbl"))
        // lazy: cut lineage without scheduling a job per round (the
        // kCore reasoning — materialize-once at first consumption)
        .localCheckpoint(false)
      r += 1
    }
    labels.select(col("v").as("vertex"), col("lbl").as("label"))
  }
}
