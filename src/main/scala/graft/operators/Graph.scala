package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
import org.apache.spark.sql.functions._
import graft.Materialize
import graft.Materialize.cut

/** Graph operators over the NoWDB edge model (SURVEY §1.1: a graph is
  * vertex-type tables + edge tables with origin/destin FKs; M6 in the
  * build plan). GraphFrames-style: a graph is just a pair of
  * DataFrames, every operator is a join/agg pipeline Catalyst can
  * optimize — no bespoke graph runtime.
  *
  * Scale: degree/neighbor ops are single shuffles on vertex ids;
  * multi-hop ops chain equi-joins (AQE picks broadcast vs SMJ by
  * side size). The iterative operators all run on one superstep
  * driver ([[superstep]]), Pregelix's shape: each round is a join
  * plus a group-by over the live state, with the lineage cut and the
  * halt probe owned by the driver. Each operator is one
  * [[graft.Materialize]] boundary, which releases every cut
  * intermediate and seals the result once when it is outermost.
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

  /** Runs `step(state, round)` for rounds 1..`n` from `init`; the
    * last state is left to the caller's seal. With a `probe` column
    * every state is cut, and the loop stops early once the column's
    * sum over the cut state repeats — one job per round that also
    * materialises the cut, so no later round ships an unmaterialised
    * plan in its task binaries (OPTIMIZATION_r16 §G). A stamp column
    * (the round that last changed the row) repeats its sum exactly
    * when the round's delta had no rows; CC's labels repeat theirs
    * once they stop moving. Without a probe the round count is fixed,
    * as the oracle replays those loops round for round, and states
    * are cut only when the step reads its state more than once: that
    * plan would double each round, while a step that reads it once
    * grows it by one round and runs with its consumer as one DAG (a
    * cut there costs each round its own jobs). */
  private def superstep(init: DataFrame, n: Int,
      probe: Option[String] = None)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    if (probe.isEmpty && n > 0 && reads(step, init) < 2)
      (1 to n).foldLeft(init)((state, r) => step(state, r))
    else {
      @scala.annotation.tailrec
      def go(state: DataFrame, r: Int, last: Option[BigInt]): DataFrame = {
        val next = step(state, r)
        if (r == n) next
        else {
          val c = cut(next)
          val now = probe.map(sumOf(c, _))
          if (now.isDefined && now == last) c else go(c, r + 1, now)
        }
      }
      val s0 = cut(init)
      if (n < 1) s0
      else go(s0, 1, if (n > 1) probe.map(sumOf(s0, _)) else None)
    }

  /** How many times `step` reads its state: round 1 is built (not
    * run) over `init` under a marker alias and the markers are
    * counted, a self-join's re-aliased copy included. */
  private def reads(step: (DataFrame, Int) => DataFrame,
                    init: DataFrame): Int =
    step(init.as("superstep_state"), 1).queryExecution.analyzed.collect {
      case a: SubqueryAlias if a.alias == "superstep_state" => a
    }.size

  /** Σ of an integral column over a cut frame, in one job on its RDD
    * (unbounded, so 64-bit vertex ids cannot overflow it). */
  private def sumOf(cut: DataFrame, c: String): BigInt = {
    val i = cut.schema.fieldIndex(c)
    val t = cut.schema(i).dataType
    Materialize.rddOf(cut).map(row => row.get(i, t) match {
      case n: Number => BigInt(n.longValue)
      case _ => BigInt(0)
    }).fold(BigInt(0))(_ + _)
  }

  /** Both directions of every edge as (u, v, carry…), by in-row
    * explode: one evaluation of the edge subtree, where a unionAll of
    * two selects evaluates it twice (edge frames are often expensive
    * aggregates such as co-occurrence graphs). */
  def symmetrize(edges: DataFrame, src: String, dst: String,
                 carry: Column*): DataFrame =
    edges.select(explode(array(
        struct(col(src).as("u") +: col(dst).as("v") +: carry: _*),
        struct(col(dst).as("u") +: col(src).as("v") +: carry: _*)))
        .as("p"))
      .select(col("p.*"))

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
  def triangleCount(edges: DataFrame, src: String,
                    dst: String): DataFrame = Materialize {
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
    val o = cut(ranked.select(col("e.a").as("a"), col("e.b").as("b")))
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
    closedFwd.unionAll(closedRev).agg(count(lit(1)).as("n_triangles"))
  }

  /** The (s, d) edge set and its vertex set, both cut in `s`. */
  private def edgesAndVerts(edges: DataFrame, src: String,
                            dst: String): (DataFrame, DataFrame) = {
    val e = cut(edges.select(col(src).as("s"), col(dst).as("d"))
      .distinct())
    (e, cut(e.select(col("s").as("v"))
      .unionAll(e.select(col("d").as("v"))).distinct()))
  }

  /** PageRank by synchronous power iteration: rank' = (1−d)/N +
    * d·Σ rank/out_deg over incoming edges (+ redistributed dangling
    * mass, so Σrank stays 1). Each iteration: one join on src + one
    * aggregation on dst. Output: (vertex, rank). */
  def pageRank(edges: DataFrame, src: String, dst: String,
               iters: Int = 10, damping: Double = 0.85): DataFrame =
    Materialize {
      val (e, verts) = edgesAndVerts(edges, src, dst)
      val n = verts.count()
      val outDeg = e.groupBy(col("s")).agg(count(lit(1)).as("deg"))
      superstep(verts.withColumn("rank", lit(1.0 / n)), iters) { (ranks, _) =>
        val withDeg = ranks.join(outDeg, ranks("v") === outDeg("s"), "left")
          .select(col("v"), col("rank"), col("deg"))
        // dangling vertices (no out-edges) spread their rank uniformly.
        // The mass is a 1-row aggregate broadcast back into the update —
        // NOT a driver collect — so no driver round-trip sits inside the
        // loop at scale.
        val dangling = withDeg.filter(col("deg").isNull)
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
        val contrib = withDeg.filter(col("deg").isNotNull)
          .join(e, col("s") === col("v"))
          .select(col("d"), (col("rank") / col("deg")).as("c"))
          .groupBy(col("d")).agg(sum(col("c")).as("in_rank"))
        verts.join(contrib, verts("v") === contrib("d"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("v"), (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("in_rank"), lit(0.0)) +
              col("dm") / n)).as("rank"))
      }
    }

  private def idiv(a: Column, b: Column): Column = call_function("div", a, b)

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
    * no collect anywhere, the iteration is pure joins + aggregates).
    * Callers with dangling-heavy graphs should add self-loops upstream
    * or use [[pageRank]]. `iters` is expected to be small (rank
    * queries, not convergence runs). */
  def pageRankInt(edges: DataFrame, src: String, dst: String,
                  iters: Int = 3, scale: Long = 1000000000000L): DataFrame =
    Materialize {
      val (e, verts) = edgesAndVerts(edges, src, dst)
      val n = verts.agg(count(lit(1)).as("n_verts"))
      val outDeg = e.groupBy(col("s")).agg(count(lit(1)).as("deg"))
      val ranks0 = verts.crossJoin(broadcast(n))
        .select(col("v"), idiv(lit(scale), col("n_verts")).as("rank"))
      superstep(ranks0, iters) { (ranks, _) =>
        val contrib = ranks.join(outDeg, ranks("v") === outDeg("s"))
          .select(col("s"), idiv(col("rank"), col("deg")).as("c"))
          .join(e, "s")
          .groupBy(col("d")).agg(sum(col("c")).as("in_sum"))
        verts.join(contrib, verts("v") === contrib("d"), "left")
          .crossJoin(broadcast(n))
          .select(col("v"),
            (idiv(lit(15L) * idiv(lit(scale), col("n_verts")), lit(100L)) +
              idiv(lit(85L) * coalesce(col("in_sum"), lit(0L)), lit(100L)))
              .as("rank"))
      }
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
      scale: Long = 1000000000000L): DataFrame = Materialize {
    val (e, verts) = edgesAndVerts(edges, src, dst)
    val sd = cut(seeds.select(col(seedCol).as("v")).distinct()
      .join(verts, Seq("v"), "left_semi"))
    // fail fast on an empty (post-semi-join) seed set: n_seeds = 0
    // would null every integer-div teleport term and silently emit
    // all-null ranks (review finding). 1-row bounded collect.
    require(sd.count() > 0,
      "personalizedPageRankInt: seed set shares no vertex with the " +
        "graph - ranks would be all-null")
    val ns = sd.agg(count(lit(1)).as("n_seeds"))
    val base = cut(verts
      .join(sd.withColumn("is_seed", lit(1L)), Seq("v"), "left")
      .crossJoin(broadcast(ns))
      .select(col("v"), (coalesce(col("is_seed"), lit(0L))
        * idiv(lit(scale), col("n_seeds"))).as("tp")))
    val outDeg = e.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    superstep(base.select(col("v"), col("tp").as("rank")), iters) {
      (ranks, _) =>
        val contrib = ranks.join(outDeg, ranks("v") === outDeg("s"))
          .select(col("s"), idiv(col("rank"), col("deg")).as("c"))
          .join(e, "s")
          .groupBy(col("d")).agg(sum(col("c")).as("in_sum"))
        base.join(contrib, base("v") === contrib("d"), "left")
          .select(base("v"),
            (idiv(lit(15L) * col("tp"), lit(100L)) +
              idiv(lit(85L) * coalesce(col("in_sum"), lit(0L)),
                lit(100L))).as("rank"))
    }
  }

  /** Multi-source BFS hop distances over an undirected edge list:
    * (v, dist) with dist = fewest hops from any seed, bounded by
    * `maxHops`. Frontier-at-a-time expansion — each round is one
    * semi-join (frontier → neighbors) + one anti-join (drop already
    * visited); `dist` doubles as the round stamp, so the walk stops
    * once a hop reaches no new vertex. Seeds with no edges still
    * appear at dist 0. This is the distance-labelled generalization
    * of the reference's k-hop reach cursors (SURVEY §2.3; reference
    * edge traversal is one origin-index probe per hop, reader.c): per
    * hop exactly one shuffle keyed on the frontier, nothing
    * quadratic, so it scales to billion-edge graphs where per-vertex
    * Dijkstra never would. */
  def bfsDistances(edges: DataFrame, src: String, dst: String,
                   seeds: DataFrame, seedCol: String,
                   maxHops: Int): DataFrame = Materialize {
    val sym = cut(symmetrize(edges, src, dst))
    superstep(seeds.select(col(seedCol).as("v")).distinct()
        .withColumn("dist", lit(0L)), maxHops, Some("dist")) {
      (visited, hop) =>
        visited.unionAll(sym
          .join(visited.filter(col("dist") === hop - 1)
            .select(col("v").as("u")), Seq("u"), "left_semi")
          .select(col("v")).distinct()
          .join(visited, Seq("v"), "left_anti")
          .withColumn("dist", lit(hop.toLong)))
    }
  }

  /** Per-seed BFS hop distances over an undirected edge list:
    * (seed, v, dist) with dist = fewest hops from THAT seed — the
    * labelled variant of [[bfsDistances]] (which min-folds all seeds
    * into one distance). State is |seeds| × reachable-set keyed on
    * (seed, v); with a handful of landmarks this is the standard
    * multi-source labelled BFS used for landmark centrality
    * estimates (Eppstein–Wang style), and all L walks advance in the
    * SAME per-hop join — one shuffle per hop regardless of L, never
    * one BFS job per landmark. */
  def bfsDistancesLabeled(edges: DataFrame, src: String, dst: String,
                          seeds: DataFrame, seedCol: String,
                          maxHops: Int): DataFrame = Materialize {
    val sym = cut(symmetrize(edges, src, dst))
    superstep(seeds.select(col(seedCol).as("seed")).distinct()
        .select(col("seed"), col("seed").as("v"), lit(0L).as("dist")),
        maxHops, Some("dist")) { (visited, hop) =>
      visited.unionAll(sym
        .join(visited.filter(col("dist") === hop - 1)
          .select(col("seed"), col("v").as("u")), Seq("u"))
        .select(col("seed"), col("v")).distinct()
        .join(visited, Seq("seed", "v"), "left_anti")
        .withColumn("dist", lit(hop.toLong)))
    }
  }

  /** Bounded-hop single-source (multi-seed) shortest paths over a
    * weighted undirected edge list: (v, dist) = cheapest cost over
    * paths of ≤ `maxHops` edges from any seed — Bellman-Ford rounds
    * with frontier pruning (only vertices whose cost improved last
    * round relax their edges; the others provably contribute nothing
    * new). Weights must be non-negative. Each round is one join on
    * the frontier + one min-reduce keyed on the vertex — the min-plus
    * generalization of [[bfsDistances]]. `at` stamps the round that
    * last improved a vertex (the min over (dist, at) keeps the older
    * stamp on a tie), so the frontier is last round's stamp and the
    * walk stops once a round improves nothing (then longer paths
    * can't either). */
  def ssspBounded(edges: DataFrame, src: String, dst: String,
                  wCol: String, seeds: DataFrame, seedCol: String,
                  maxHops: Int): DataFrame = Materialize {
    val sym = cut(symmetrize(edges, src, dst, col(wCol).as("w")))
    superstep(seeds.select(col(seedCol).as("v")).distinct()
        .select(col("v"), lit(0L).as("dist"), lit(0L).as("at")),
        maxHops, Some("at")) { (best, hop) =>
      val relax = sym.join(best.filter(col("at") === hop - 1)
          .select(col("v").as("u"), col("dist").as("du")), Seq("u"))
        .select(col("v"), (col("du") + col("w")).as("dist"),
          lit(hop.toLong).as("at"))
      best.unionAll(relax).groupBy(col("v"))
        .agg(min(struct(col("dist"), col("at"))).as("m"))
        .select(col("v"), col("m.dist").as("dist"), col("m.at").as("at"))
    }.drop("at")
  }

  /** Undirected connected components by min-label propagation with
    * pointer jumping. Converges in O(log diameter) rounds; each round
    * is a neighbor-propagation join + min-reduce, then a label-lookup
    * join that adopts comp(comp) (label doubling). Convergence is
    * detected from Σcomp, which strictly decreases until the
    * fixpoint, so the check rides the driver's one-job probe instead
    * of a join-and-compare pass. */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
                          maxIter: Int = 20): DataFrame = Materialize {
    val sym = cut(symmetrize(edges, src, dst))
    superstep(sym.select(col("u").as("v")).distinct()
        .withColumn("comp", col("v")), maxIter, Some("comp")) {
      (labels, _) =>
        val stepped = labels
          .unionAll(sym.join(labels.select(col("v").as("u"), col("comp")),
            "u").select(col("v"), col("comp")))
          .groupBy(col("v")).agg(min(col("comp")).as("comp"))
        // pointer jump (label doubling): also adopt the label OF the
        // label — comp values are vertex ids, so the self-join resolves
        // comp → comp(comp), halving label distances each round: 9
        // rounds instead of 300 on a 300-link chain.
        val lookup = stepped
          .select(col("v").as("lv"), col("comp").as("lcomp"))
        stepped.join(lookup, col("comp") === col("lv"))
          .select(col("v"), least(col("comp"), col("lcomp")).as("comp"))
    }
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
    * of no-op rounds after the fixpoint. Output: (vertex, core_deg)
    * over the surviving subgraph — empty if the graph has no k-core. */
  def kCore(edges: DataFrame, src: String, dst: String, k: Int,
            rounds: Int): DataFrame = Materialize {
    val und = edges
      .select(least(col(src), col(dst)).as("u"),
        greatest(col(src), col(dst)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    superstep(symmetrize(und, "u", "v"), rounds) { (g, _) =>
      // symmetric edge list ⇒ grouping on u alone counts every
      // vertex's full neighborhood
      val alive = g.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("u"))
      g.join(alive, Seq("u"), "left_semi")
        .join(alive.select(col("u").as("v")), Seq("v"), "left_semi")
    }.groupBy(col("u")).agg(count(lit(1)).as("core_deg"))
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
    * shuffles; communities emerge in a handful of rounds on modular
    * graphs. `rounds` is FIXED for oracle parity. Output: (vertex,
    * label). */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
                       wCol: String, rounds: Int): DataFrame =
    Materialize {
      val sym = cut(symmetrize(edges, src, dst, col(wCol).as("w")))
      superstep(sym.select(col("u").as("v")).distinct()
          .withColumn("lbl", col("v")), rounds) { (labels, _) =>
        // argmax via struct max: (weight sum, −label) orders first by
        // ws descending, then by label ASCENDING — the deterministic
        // tie-break the oracle mirrors with ORDER BY ws DESC, lbl ASC
        sym.join(labels.select(col("v").as("u"), col("lbl")), "u")
          .groupBy(col("v"), col("lbl"))
          .agg(sum(col("w")).as("ws"))
          .groupBy(col("v"))
          .agg(max(struct(col("ws"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("v"), (-col("m.nl")).as("lbl"))
      }.select(col("v").as("vertex"), col("lbl").as("label"))
    }
}
