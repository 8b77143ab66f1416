package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize.{cut, hold}
import graft.Tables
import QueryPack.memoizedParquet

/** Graph-operator coverage over the TPC-H relationship structure:
  * customer —orders→ order —lineitem→ supplier forms a two-layer
  * edge set (exactly NoWDB's origin/destin shape). */
object GraphQueries extends QueryPack {

  /** Memoized supplier co-occurrence graph
    * (Graph.commonNeighborPairs over lineitem, keyed by data dir +
    * minShared + Spark application): the whole graph family
    * (q70/q104/q128/q134/q145/q196/q201/q289/q303/q305/q308/q315/
    * q316) shares ONE build per (dataset, minShared) instead of
    * re-running the groupBy + pair expansion per query — the same
    * shared-leg discipline as the memoized perceptron trainer
    * (TextQueries) and IVF quantizer
    * (Similarity.refinedCentroidsCached). The build is MATERIALIZED
    * TO PARQUET and re-read per consumer: the table outlives the
    * scope of the query that builds it, and a driver collect would
    * not scale (the pair set grows with the supplier domain). At
    * 100 TB this is exactly the production shape — the co-occurrence
    * graph is an intermediate TABLE, built once, scanned by every
    * downstream graph job. Safe: the build is deterministic, so the
    * materialized frame is bit-identical to a fresh one. */
  private def supplierCo(s: SparkSession, d: String,
                         minShared: Long): DataFrame =
    memoizedParquet(s, d, s"graft-co-$minShared-")(
      Graph.commonNeighborPairs(
        Tables.fanout(s, d, "lineitem", Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"))),
        "l_orderkey", "l_suppkey", minShared))

  /** The q196-family edge cut: top-2000 heaviest co-occurrence edges
    * at minShared=2 (scale-stable size, deterministic total order) —
    * shared by q196/q201/q315/q316. */
  private def supplierCoTop2000(s: SparkSession, d: String): DataFrame =
    memoizedParquet(s, d, "graft-co-top2000-")(
      supplierCo(s, d, 2L)
        .orderBy(col("shared").desc, col("d_a").asc, col("d_b").asc)
        .limit(2000)
        .coalesce(1)) // 2000 rows; a TakeOrdered result, one file

  /** Memoized co-occurrence edge tables, exposed for the bench's
    * separately billed pre-build pass (r14 verdict task 6). The
    * top-2000 cut forces the minShared=2 base, so listing the base
    * first bills each row's own increment. */
  override def prebuilds: Map[String, (SparkSession, String) => Unit] =
    Map(
      "build_supplier_co" -> ((s, d) => { supplierCo(s, d, 2L); () }),
      "build_supplier_co_top2000" ->
        ((s, d) => { supplierCoTop2000(s, d); () }))

  protected val entries: Map[String, Query] = Map(
    // in/out degree over the customer→order edge set
    "q68_graph_degrees" -> ((s, d) => {
      val e = Tables.orders(s, d)
        .select(col("o_custkey").as("src"), col("o_orderkey").as("dst"))
      Graph.degrees(e, "src", "dst")
        .filter(col("out_deg") > 0) // customer side (orders have in=1)
        .select(col("vertex"), col("out_deg"))
    }),
    // two-hop motif: customers reaching suppliers through orders
    "q69_graph_two_hop" -> ((s, d) => {
      val co = Tables.orders(s, d)
        .select(col("o_custkey").as("c"), col("o_orderkey").as("o"))
      val os = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("sup"))
      Graph.twoHop(co, "c", "o", os, "o", "sup")
        .groupBy(col("a").as("custkey"))
        .agg(countDistinct(col("c")).as("n_suppliers"))
    }),
    // supplier pairs sharing >= 30 orders (co-occurrence graph)
    "q70_graph_common" -> ((s, d) =>
      supplierCo(s, d, 30L)
        .select(col("d_a").as("supp_a"), col("d_b").as("supp_b"),
          col("shared"))),
    // triangle count of the supplier co-occurrence graph,
    // degree-ordered orientation (the oracle's naive 3-way self-join
    // has unbounded wedge fan-out on hubs; Graph.triangleCount is
    // O(m^1.5) — see its scaladoc)
    "q104_triangles" -> ((s, d) => {
      val e = supplierCo(s, d, 30L)
      Graph.triangleCount(e, "d_a", "d_b")
    }),
    // k-hop reach from a seed set over the bipartite
    // customer→order→supplier structure: chained semi-joins, each hop
    // one shuffle, nothing materialized but distinct frontier ids —
    // the BFS-frontier pattern that scales to billion-edge graphs.
    // multi-source BFS hop distances on the supplier co-occurrence
    // graph (q70's edge set), seeds = every 10th supplier. The oracle
    // is a recursive CTE; the Spark side is frontier expansion —
    // one semi+anti join round per hop (Graph.bfsDistances).
    "q128_bfs_distance" -> ((s, d) => {
      val e = supplierCo(s, d, 30L)
      val seeds = Tables.supplier(s, d)
        .filter(col("s_suppkey") % 10 === 0).select(col("s_suppkey"))
      Graph.bfsDistances(e, "d_a", "d_b", seeds, "s_suppkey", maxHops = 4)
        .select(col("v").as("suppkey"), col("dist"))
    }),
    // bounded-hop weighted shortest paths on the co-occurrence graph
    // (minShared=10 so the graph stays connected at every SF), edge
    // cost 1e6/shared (closer collaborators = cheaper) — all integer,
    // so the min-plus relaxation is bit-exact against the recursive
    // CTE oracle.
    "q134_sssp_bounded" -> ((s, d) => {
      val e = supplierCo(s, d, 10L)
        .withColumn("w", call_function("div", lit(1000000L), col("shared")))
      val seeds = Tables.supplier(s, d)
        .filter(col("s_suppkey") % 10 === 0).select(col("s_suppkey"))
      Graph.ssspBounded(e, "d_a", "d_b", "w", seeds, "s_suppkey",
          maxHops = 4)
        .select(col("v").as("suppkey"), col("dist").as("dist_cost"))
    }),
    // Integer-exact PageRank (3 power iterations, scaled-BIGINT
    // arithmetic) on the symmetric supplier co-occurrence graph —
    // bit-identical against the oracle's unrolled-CTE recompute, which
    // a floating-point PageRank can never be (per-engine summation
    // order drifts the last ulps). Symmetric graph ⇒ no dangling
    // vertices, so the no-redistribution variant loses only
    // floor-division remainders. Pure joins+aggregates, no driver
    // scalar per iteration.
    "q145_pagerank" -> ((s, d) => {
      val co = supplierCo(s, d, 10L)
      val e = Graph.symmetrize(co, "d_a", "d_b")
      Graph.pageRankInt(e, "u", "v", iters = 3)
        .select(col("v").as("suppkey"), col("rank"))
    }),
    // k-core of the TOP-2000-heaviest-edge supplier co-occurrence
    // graph: an absolute shared-count cut cannot serve every scale
    // (co-occurrence mass dilutes as the supplier domain grows — ≥10
    // leaves a forest at sf0.1, while sf0.01 is a near-clique), so
    // the graph is the K heaviest edges by (shared, pair-id) — a
    // total order, so the edge set is deterministic, its SIZE is
    // scale-stable, and the cut is a TakeOrdered (never a global
    // sort). 6 synchronous peeling rounds at k=3: long-tail shells
    // peel away round by round, the dense collaboration core survives
    // with its in-core degree. Fixed rounds keep the DAG replayable
    // by the oracle stage-for-stage.
    "q196_kcore" -> ((s, d) => {
      val e = supplierCoTop2000(s, d)
      Graph.kCore(e, "d_a", "d_b", k = 3, rounds = 6)
        .select(col("vertex").as("suppkey"), col("core_deg"))
    }),
    // Weighted label-propagation communities on q196's top-2000-edge
    // supplier graph (weight = shared-order count), 4 synchronous
    // rounds, smaller-label tie-break — integer weights + a total tie
    // order make every round deterministic, so the oracle unrolls the
    // identical 4 stages. Output: each supplier's community label.
    "q201_label_propagation" -> ((s, d) => {
      val e = supplierCoTop2000(s, d)
      Graph.labelPropagation(e, "d_a", "d_b", "shared", rounds = 4)
        .select(col("vertex").as("suppkey"),
          col("label").cast("long").as("community"))
    }),
    "q105_khop_reach" -> ((s, d) => {
      val seed = Tables.customer(s, d).filter(col("c_nationkey") === 0)
        .select(col("c_custkey"))
      val o1 = Tables.orders(s, d)
        .join(seed.withColumnRenamed("c_custkey", "o_custkey"),
          Seq("o_custkey"), "left_semi")
        .select(col("o_orderkey"))
      val s2 = Tables.lineitem(s, d)
        .join(o1.withColumnRenamed("o_orderkey", "l_orderkey"),
          Seq("l_orderkey"), "left_semi")
        .select(col("l_suppkey")).distinct()
      val c3 = Tables.orders(s, d)
        .join(Tables.lineitem(s, d)
            .join(s2, Seq("l_suppkey"), "left_semi")
            .select(col("l_orderkey").as("o_orderkey")),
          Seq("o_orderkey"), "left_semi")
        .select(col("o_custkey")).distinct()
      seed.agg(count(lit(1)).as("n_seed"))
        .crossJoin(o1.agg(count(lit(1)).as("n_orders_1hop")))
        .crossJoin(s2.agg(count(lit(1)).as("n_suppliers_2hop")))
        .crossJoin(c3.agg(count(lit(1)).as("n_customers_3hop")))
    }),
    // Wedge-sampled triangle estimation (Seshadhri et al.): accept
    // ~1/8 of wedges by an arithmetic hash on (center, a, b), check
    // closure exactly on the accepted wedges only, scale by
    // W/(3·sampled) — the estimator that replaces the full triangle
    // join when only the COUNT is needed. Acceptance is evaluated
    // INSIDE the per-vertex wedge lambda, so rejected wedges never
    // leave the row, let alone the executor; the exact count (q104's
    // oriented join) rides along for the error check. All integer
    // until the final rounded ratio.
    "q230_wedge_triangles" -> ((s, d) => {
      // q196's scale-stable graph: top-2000 heaviest edges — an
      // absolute shared-count cut is either a near-clique (sf0.01)
      // or an empty forest (sf0.1); the K-heaviest cut keeps real
      // triangle structure at every SF
      val g = hold(supplierCoTop2000(s, d).select(col("d_a"), col("d_b")))
      val und = g.select(col("d_a").as("c"), col("d_b").as("n"))
        .unionAll(g.select(col("d_b").as("c"), col("d_a").as("n")))
      val M = 1000000007L
      val adj = hold(und.groupBy(col("c"))
        .agg(sort_array(collect_set(col("n"))).as("ns"))
        .select(col("c"), size(col("ns")).cast("long").as("deg"),
          filter(flatten(transform(col("ns"), (x, i) =>
            transform(
              slice(col("ns"), i + lit(2), size(col("ns")) - i - 1),
              y => struct(x.as("a"), y.as("b"))))),
            p => pmod(pmod(col("c") * lit(1000003L)
                + p.getField("a"), lit(M)) * lit(1000003L)
              + p.getField("b"), lit(M)) % 8 === 0).as("ws")))
      val tot = adj.agg(
        sum(expr("(deg * (deg - 1)) DIV 2")).cast("long")
          .as("n_wedges"))
      val cl = adj.select(explode(col("ws")).as("p"))
        .select(col("p.a").cast("long").as("a"),
          col("p.b").cast("long").as("b"))
        .join(g.select(col("d_a").as("a"), col("d_b").as("b"),
          lit(1L).as("closed")), Seq("a", "b"), "left")
        .agg(count(lit(1)).as("n_sampled"),
          sum(coalesce(col("closed"), lit(0L))).cast("long")
            .as("n_closed"))
      cl.crossJoin(broadcast(tot))
        .crossJoin(broadcast(
          Graph.triangleCount(g, "d_a", "d_b")))
        .select(col("n_wedges"), col("n_sampled"), col("n_closed"),
          // zero hash-accepted wedges ⇒ Spark NULL vs DuckDB nan on
          // the 0/0 — pin the degenerate estimate to 0 on both sides
          when(col("n_sampled") === 0, lit(0.0))
            .otherwise(round(col("n_closed").cast("double")
              * col("n_wedges") / (col("n_sampled") * 3), 6))
            .as("est_triangles"),
          col("n_triangles").as("exact_triangles"))
    }),
    // Personalized PageRank from the suppkey%50 seed set over the
    // supplier co-occurrence graph — graph-proximity data selection
    // ("docs near trusted seeds"), top-30. Same integer-exact
    // machinery as q145's global PageRank; only the teleport target
    // changes, so the two are directly comparable rank-for-rank.
    "q289_personalized_pagerank" -> ((s, d) => {
      val co = supplierCo(s, d, 10L)
      val e = Graph.symmetrize(co, "d_a", "d_b")
      val seeds = e.select(col("u")).distinct()
        .filter(col("u") % 50L === 0L)
      Graph.personalizedPageRankInt(e, "u", "v", seeds, "u", iters = 3)
        .orderBy(col("rank").desc, col("v").asc).limit(30)
        .select(col("v").as("suppkey"), col("rank"))
    }),
    // Hub-removal robustness (Albert/Jeong/Barabási 2000: scale-free
    // graphs shatter under targeted hub attack): giant-component size
    // before vs after deleting the top-5 degree hubs from the
    // supplier co-occurrence graph — the "does one crawl hub hold the
    // whole dedup graph together" audit. Two CC runs (per-round
    // lineage cuts, q196's graph), hub pick is a TakeOrdered-5;
    // deletion is two anti-joins, never a rebuild.
    "q303_hub_robustness" -> ((s, d) => {
      val co = supplierCo(s, d, 10L)
      // the edge list feeds hub pick + BOTH CC runs — checkpoint it
      // once or the co-occurrence aggregate re-runs three times
      val e = cut(Graph.symmetrize(co, "d_a", "d_b"))
      val hubs = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("u").asc).limit(5)
        .select(col("u"))
      def giant(edges: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame =
        Graph.connectedComponents(edges, "u", "v")
          .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_comps"), max(col("sz")).as("giant"))
      val e2 = e.join(broadcast(hubs), Seq("u"), "left_anti")
        .join(broadcast(hubs.select(col("u").as("v"))), Seq("v"),
          "left_anti")
      giant(e).select(col("n_comps").as("comps_before"),
          col("giant").as("giant_before"))
        .crossJoin(giant(e2).select(col("n_comps").as("comps_after"),
          col("giant").as("giant_after")))
        .select(col("comps_before"), col("giant_before"),
          col("comps_after"), col("giant_after"),
          round((col("giant_before") - col("giant_after"))
            .cast("double") / col("giant_before").cast("double"), 6)
            .as("giant_drop_frac"))
    }),
    // Degree assortativity (Newman 2002: Pearson r of endpoint
    // degrees over edges — r>0 hubs befriend hubs, r<0 hub-and-spoke;
    // with q303 it answers WHY the graph shatters or doesn't). All
    // moments are exact integer sums over the symmetric edge list;
    // one fixed-order double expression at the end.
    "q305_assortativity" -> ((s, d) => {
      val co = supplierCo(s, d, 10L)
      val e = Graph.symmetrize(co, "d_a", "d_b")
      val deg = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      e.join(deg.select(col("u"), col("deg").as("dx")), Seq("u"))
        .join(deg.select(col("u").as("v"), col("deg").as("dy")),
          Seq("v"))
        .agg(count(lit(1)).as("m"), sum(col("dx")).as("sx"),
          sum(col("dy")).as("sy"),
          sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"))
        .select(col("m").as("n_edges"),
          // degenerate regular graph: zero degree variance pins r=0
          // via an exact integer equality on both engines
          when(col("m") * col("sxx") === col("sx") * col("sx")
              || col("m") * col("syy") === col("sy") * col("sy"),
            lit(0.0))
          .otherwise(
            round((col("m").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
            / sqrt((col("m").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
              * (col("m").cast("double") * col("syy").cast("double")
                - col("sy").cast("double") * col("sy").cast("double"))),
              6)).as("assortativity"))
    }),
    // Newman modularity (2004) of the supplier-nation partition on
    // the q305 co-occurrence graph: Q = Σ_c [e_c/m − (d_c/2m)²] —
    // "do supply communities follow national lines", the partition-
    // QUALITY score the q196 label-prop / q145-family queries never
    // emit. Exact integer numerator Qnum = Σ_c (4·m·e_c − d_c²) over
    // longs (d_c ≤ 2m so d_c² ≤ 4m², no overflow at any SF that fits
    // a count), one final division Q = Qnum / 4m².
    "q308_modularity" -> ((s, d) => {
      val co = supplierCo(s, d, 10L)
      val nat = Tables.supplier(s, d)
        .select(col("s_suppkey").as("u"),
          col("s_nationkey").cast("long").as("nk"))
      val e = co
        .join(nat.select(col("u").as("d_a"), col("nk").as("na")),
          Seq("d_a"))
        .join(nat.select(col("u").as("d_b"), col("nk").as("nb")),
          Seq("d_b"))
      val dbl = e.select(explode(array(
          struct(col("d_a").as("u"), col("na").as("nk")),
          struct(col("d_b").as("u"), col("nb").as("nk")))).as("p"))
        .select(col("p.u").as("u"), col("p.nk").as("nk"))
      val dc = dbl.groupBy(col("u"), col("nk"))
        .agg(count(lit(1)).as("deg"))
        .groupBy(col("nk")).agg(sum(col("deg")).as("d_c"))
      val ec = e.filter(col("na") === col("nb"))
        .groupBy(col("na").as("nk")).agg(count(lit(1)).as("e_c"))
      val mf = e.agg(count(lit(1)).as("m"))
      dc.join(ec, Seq("nk"), "left")
        .select(col("nk"), col("d_c"),
          coalesce(col("e_c"), lit(0L)).as("e_c"))
        .crossJoin(broadcast(mf))
        .agg(max(col("m")).as("n_edges"),
          count(lit(1)).as("n_communities"),
          sum(lit(4L) * col("m") * col("e_c")
            - col("d_c") * col("d_c")).as("qnum"))
        .select(col("n_edges"), col("n_communities"),
          round(col("qnum").cast("double")
            / (lit(4.0) * col("n_edges").cast("double")
              * col("n_edges").cast("double")), 6).as("modularity"))
    }),
    // HITS hubs & authorities (Kleinberg 1999) on the bipartite
    // customer→supplier purchase graph, UNNORMALIZED so every score
    // is an exact integer: after k half-iterations the authority
    // score is the count of length-2k alternating paths ending at
    // the supplier (a⁰=1 ⇒ h¹=deg, a¹=Σh¹, h²=Σa¹, a²=Σh²) — the
    // per-iteration norm in textbook HITS only rescales the ranking,
    // so dropping it trades nothing but float drift. Top-15
    // authorities, cutoff ties broken by key. Each half-iteration is
    // one keyed agg + one equi-join on the edge list; scores stay
    // O(deg·maxscore) so longs hold through sf1000.
    "q311_hits" -> ((s, d) => {
      val e = Tables.orders(s, d)
        .select(col("o_custkey").as("c"), col("o_orderkey"))
        .join(Tables.lineitem(s, d)
          .select(col("l_orderkey").as("o_orderkey"),
            col("l_suppkey").as("sp")), Seq("o_orderkey"))
        .select(col("c"), col("sp")).distinct()
      val h1 = e.groupBy(col("c")).agg(count(lit(1)).as("h1"))
      val a1 = e.join(h1, Seq("c"))
        .groupBy(col("sp")).agg(sum(col("h1")).as("a1"))
      val h2 = e.join(a1, Seq("sp"))
        .groupBy(col("c")).agg(sum(col("a1")).as("h2"))
      val a2 = e.join(h2, Seq("c"))
        .groupBy(col("sp")).agg(sum(col("h2")).as("a2"))
      a2.orderBy(col("a2").desc, col("sp").asc).limit(15)
        .select(col("sp").cast("long").as("suppkey"), col("a2"))
    }),
    // Link prediction by resource-allocation index (Zhou/Lü/Zhang
    // 2009: RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z) — like Adamic-Adar
    // but with 1/deg instead of 1/log deg, which makes it EXACT in
    // scaled-integer units: 1e6 div deg(z) is the same integer on
    // both engines, where 1/log would drift in the last ulp). Ranks
    // the non-edges most likely to be real supplier collaborations.
    // One wedge enumeration (z's neighbor list self-joined) + one
    // keyed sum + one anti-join against the edge set — the same
    // fan-out shape as q70's common-neighbor pairs; at 100 TB the
    // hub-z quadratic term gets the q104 degree-orientation / hub-cap
    // treatment, not a different algorithm. Runs on q196's
    // top-2000-heaviest-edge graph: predicting non-edges needs a
    // SPARSE graph (the minShared=10 cut is a near-clique at small
    // SF, leaving zero non-adjacent wedge pairs), and the TakeOrdered
    // edge cut keeps the graph size scale-stable.
    "q315_link_prediction" -> ((s, d) => {
      val co = supplierCoTop2000(s, d) // already checkpointed (memo)
      // feeds deg + both wedge legs: 3 consumers
      val e = cut(co.select(explode(array(
          struct(col("d_a").as("u"), col("d_b").as("v")),
          struct(col("d_b").as("u"), col("d_a").as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v")))
      val deg = e.groupBy(col("u")).agg(count(lit(1)).as("dg"))
      val wedges = e.select(col("u").as("z"), col("v").as("a"))
        .join(e.select(col("u").as("z"), col("v").as("b")), Seq("z"))
        .filter(col("a") < col("b"))
        .join(deg.select(col("u").as("z"), col("dg")), Seq("z"))
      wedges.groupBy(col("a"), col("b"))
        .agg(sum(call_function("div", lit(1000000L), col("dg")))
            .as("ra"),
          count(lit(1)).as("shared"))
        .join(co.select(col("d_a").as("a"), col("d_b").as("b")),
          Seq("a", "b"), "left_anti")
        .orderBy(col("ra").desc, col("a").asc, col("b").asc).limit(15)
        .select(col("a").cast("long").as("supp_a"),
          col("b").cast("long").as("supp_b"), col("shared"), col("ra"))
    }),
    // Harmonic centrality estimated from landmark BFS (Eppstein-Wang
    // sampling shape): H(v) = Σ_landmarks 1e6 div d(l,v) over finite
    // hop distances ≤ 4 — integer division keeps the score engine-
    // exact where true 1/d floats would not need to be. All landmark
    // walks advance in ONE labelled frontier join per hop
    // (Graph.bfsDistancesLabeled), so landmark count scales the state
    // rows, not the round count — the practical centrality estimate
    // for graphs where per-vertex APSP is off the table. Same
    // top-2000-edge graph as q196/q315: the absolute minShared cut is
    // a forest at sf0.1 (few landmarks reach anything), while the
    // TakeOrdered cut keeps a connected collaboration core at every SF.
    "q316_harmonic_centrality" -> ((s, d) => {
      val co = supplierCoTop2000(s, d)
      val seeds = Tables.supplier(s, d)
        .filter(col("s_suppkey") % 25 === 0).select(col("s_suppkey"))
      Graph.bfsDistancesLabeled(co, "d_a", "d_b", seeds, "s_suppkey",
          maxHops = 4)
        .filter(col("dist") > 0) // self-distance excluded by definition
        .groupBy(col("v"))
        .agg(count(lit(1)).as("n_landmarks"),
          sum(call_function("div", lit(1000000L), col("dist")))
            .as("harmonic"))
        .orderBy(col("harmonic").desc, col("v").asc).limit(15)
        .select(col("v").cast("long").as("suppkey"),
          col("n_landmarks"), col("harmonic"))
    }),
    // Local clustering coefficient per vertex (Watts–Strogatz):
    // C_v = 2T_v / (deg_v(deg_v−1)) on the shared top-2000-edge
    // supplier graph — the per-vertex refinement of q104's global
    // triangle count and q230's wedge check (global transitivity says
    // "the graph is clumpy"; this says WHERE). Wedge enumeration is
    // one self-join on the symmetrized edge list with v<w
    // deduplication, closed by a semi-join against the canonical
    // (d_a<d_b) edge set — wedge volume is Σdeg², bounded here by the
    // scale-stable top-K cut (at 100 TB the same plan runs on any
    // degree-capped or edge-sampled graph). Integer triangles and
    // degrees; C is one division rounded 6 dp.
    "q354_clustering_coeff" -> ((s, d) => {
      val e = supplierCoTop2000(s, d).select(col("d_a"), col("d_b"))
      val sym = cut(e.select(explode(array(
          struct(col("d_a").as("u"), col("d_b").as("v")),
          struct(col("d_b").as("u"), col("d_a").as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v")))
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val tri = sym.as("a")
        .join(sym.as("b"),
          col("a.u") === col("b.u") && col("a.v") < col("b.v"))
        .select(col("a.u").as("u"), col("a.v").as("x"),
          col("b.v").as("y"))
        .join(e.select(col("d_a").as("x"), col("d_b").as("y")),
          Seq("x", "y"), "left_semi")
        .groupBy(col("u")).agg(count(lit(1)).as("tri"))
      deg.join(tri, Seq("u"), "left")
        .select(col("u").cast("long").as("suppkey"), col("deg"),
          coalesce(col("tri"), lit(0L)).as("n_tri"),
          when(col("deg") < 2L, lit(0.0)).otherwise(
            round(lit(2.0) * coalesce(col("tri"), lit(0L))
                .cast("double")
              / (col("deg").cast("double")
                * (col("deg") - 1L).cast("double")), 6))
            .as("clustering"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q354_clustering_coeff" ->
      """WITH co0 AS MATERIALIZED (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS shared
        |  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        | co AS MATERIALIZED (SELECT u, v FROM co0
        |  ORDER BY shared DESC, u, v LIMIT 2000),
        | sym AS MATERIALIZED (SELECT u, v FROM co
        |  UNION ALL SELECT v, u FROM co),
        | deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
        |  FROM sym GROUP BY 1),
        | tri AS (SELECT a.u, CAST(count(*) AS BIGINT) AS tri
        |  FROM sym a JOIN sym b ON a.u = b.u AND a.v < b.v
        |  WHERE EXISTS (SELECT 1 FROM co
        |    WHERE co.u = a.v AND co.v = b.v)
        |  GROUP BY 1)
        | SELECT CAST(deg.u AS BIGINT) AS suppkey, deg.deg,
        |  CAST(coalesce(tri.tri, 0) AS BIGINT) AS n_tri,
        |  CASE WHEN deg.deg < 2 THEN 0.0
        |  ELSE round(2.0 * CAST(coalesce(tri.tri, 0) AS DOUBLE)
        |   / (CAST(deg.deg AS DOUBLE) * CAST(deg.deg - 1 AS DOUBLE)),
        |   6) END AS clustering
        | FROM deg LEFT JOIN tri ON tri.u = deg.u""".stripMargin,
    "q68_graph_degrees" ->
      """SELECT o_custkey AS vertex, count(*) AS out_deg
        | FROM orders GROUP BY o_custkey""".stripMargin,
    "q69_graph_two_hop" ->
      """SELECT o.o_custkey AS custkey,
        |  count(DISTINCT l.l_suppkey) AS n_suppliers
        | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        | GROUP BY o.o_custkey""".stripMargin,
    "q70_graph_common" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS s, l_suppkey AS d
        |   FROM lineitem)
        | SELECT x.d AS supp_a, y.d AS supp_b, count(*) AS shared
        | FROM e x JOIN e y ON x.s = y.s AND x.d < y.d
        | GROUP BY x.d, y.d HAVING count(*) >= 30""".stripMargin,
    "q104_triangles" ->
      """WITH be AS (SELECT DISTINCT l_orderkey AS s, l_suppkey AS d
        |   FROM lineitem),
        | g AS (SELECT x.d AS u, y.d AS v
        |  FROM be x JOIN be y ON x.s = y.s AND x.d < y.d
        |  GROUP BY x.d, y.d HAVING count(*) >= 30)
        | SELECT count(*) AS n_triangles
        | FROM g e1 JOIN g e2 ON e1.v = e2.u
        | JOIN g e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin,
    "q128_bfs_distance" ->
      """WITH RECURSIVE co AS (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 30),
        | g AS (SELECT u, v FROM co UNION ALL SELECT v, u FROM co),
        | walk(v, dist) AS (
        |  SELECT s_suppkey, 0 FROM supplier WHERE s_suppkey % 10 = 0
        |  UNION
        |  SELECT g.v, walk.dist + 1 FROM walk JOIN g ON g.u = walk.v
        |  WHERE walk.dist < 4)
        | SELECT v AS suppkey, CAST(min(dist) AS BIGINT) AS dist
        | FROM walk GROUP BY v""".stripMargin,
    "q134_sssp_bounded" ->
      """WITH RECURSIVE co AS (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS shared
        |  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 10),
        | g AS (SELECT u, v, 1000000 // shared AS w FROM co
        |  UNION ALL SELECT v, u, 1000000 // shared AS w FROM co),
        | walk(v, dist, hops) AS (
        |  SELECT s_suppkey, CAST(0 AS BIGINT), 0 FROM supplier
        |  WHERE s_suppkey % 10 = 0
        |  UNION
        |  SELECT g.v, walk.dist + g.w, walk.hops + 1
        |  FROM walk JOIN g ON g.u = walk.v
        |  WHERE walk.hops < 4)
        | SELECT v AS suppkey, min(dist) AS dist_cost
        | FROM walk GROUP BY v""".stripMargin,
    "q145_pagerank" ->
      """WITH co AS (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 10),
        | g AS (SELECT u, v FROM co UNION ALL SELECT v, u FROM co),
        | verts AS (SELECT DISTINCT u AS v FROM g),
        | n AS (SELECT count(*) AS nv FROM verts),
        | deg AS (SELECT u, count(*) AS deg FROM g GROUP BY 1),
        | r0 AS (SELECT v, (SELECT 1000000000000 // nv FROM n) AS rank
        |  FROM verts),
        | i1 AS (SELECT verts.v,
        |   (SELECT (15 * (1000000000000 // nv)) // 100 FROM n)
        |    + (85 * coalesce(sc.in_sum, 0)) // 100 AS rank
        |  FROM verts LEFT JOIN (
        |   SELECT g.v AS v, CAST(sum(r.rank // d.deg) AS BIGINT) AS in_sum
        |   FROM r0 r JOIN deg d ON r.v = d.u JOIN g ON g.u = r.v
        |   GROUP BY g.v) sc ON verts.v = sc.v),
        | i2 AS (SELECT verts.v,
        |   (SELECT (15 * (1000000000000 // nv)) // 100 FROM n)
        |    + (85 * coalesce(sc.in_sum, 0)) // 100 AS rank
        |  FROM verts LEFT JOIN (
        |   SELECT g.v AS v, CAST(sum(r.rank // d.deg) AS BIGINT) AS in_sum
        |   FROM i1 r JOIN deg d ON r.v = d.u JOIN g ON g.u = r.v
        |   GROUP BY g.v) sc ON verts.v = sc.v),
        | i3 AS (SELECT verts.v,
        |   (SELECT (15 * (1000000000000 // nv)) // 100 FROM n)
        |    + (85 * coalesce(sc.in_sum, 0)) // 100 AS rank
        |  FROM verts LEFT JOIN (
        |   SELECT g.v AS v, CAST(sum(r.rank // d.deg) AS BIGINT) AS in_sum
        |   FROM i2 r JOIN deg d ON r.v = d.u JOIN g ON g.u = r.v
        |   GROUP BY g.v) sc ON verts.v = sc.v)
        | SELECT v AS suppkey, CAST(rank AS BIGINT) AS rank FROM i3""".stripMargin,
    // 6 unrolled peeling stages, each the exact relational twin of a
    // Graph.kCore round (degree ≥ 3 survivor set, both endpoints
    // semi-filtered). Every stage CTE is MATERIALIZED: DuckDB inlines
    // plain CTEs, and with each g_r referencing g_{r-1} three times
    // the inlined chain re-expands the co-occurrence join 3^6 times —
    // enough to overflow temp disk at sf0.1 before ever finishing.
    "q196_kcore" -> {
      val peel = (1 to 6).map { r =>
        s"""a$r AS MATERIALIZED (SELECT u FROM g${r - 1} GROUP BY u
           |  HAVING count(*) >= 3),
           | g$r AS MATERIALIZED (SELECT g.u, g.v FROM g${r - 1} g
           |  WHERE g.u IN (SELECT u FROM a$r)
           |    AND g.v IN (SELECT u FROM a$r))""".stripMargin
      }.mkString(",\n ")
      s"""WITH co0 AS MATERIALIZED (
         |  SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS shared
         |  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
         |  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
         |   ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         | co AS MATERIALIZED (SELECT u, v FROM co0
         |  ORDER BY shared DESC, u, v LIMIT 2000),
         | g0 AS MATERIALIZED (SELECT u, v FROM co
         |  UNION ALL SELECT v, u FROM co),
         | $peel
         | SELECT u AS suppkey, count(*) AS core_deg
         | FROM g6 GROUP BY u""".stripMargin
    },
    // 4 unrolled LPA stages; argmax = row_number over (ws DESC, lbl
    // ASC) — the relational twin of Spark's max(struct(ws, −lbl))
    "q201_label_propagation" -> {
      val stages = (1 to 4).map { r =>
        s"""l$r AS MATERIALIZED (SELECT v, lbl FROM (
           |  SELECT g.v, l.lbl, sum(g.w) AS ws,
           |    row_number() OVER (PARTITION BY g.v
           |      ORDER BY sum(g.w) DESC, l.lbl ASC) AS rk
           |  FROM g JOIN l${r - 1} l ON g.u = l.v
           |  GROUP BY g.v, l.lbl) WHERE rk = 1)""".stripMargin
      }.mkString(",\n ")
      s"""WITH co0 AS MATERIALIZED (
         |  SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS shared
         |  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
         |  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
         |   ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         | co AS MATERIALIZED (SELECT u, v, shared AS w FROM co0
         |  ORDER BY shared DESC, u, v LIMIT 2000),
         | g AS MATERIALIZED (SELECT u, v, w FROM co
         |  UNION ALL SELECT v, u, w FROM co),
         | l0 AS MATERIALIZED (SELECT DISTINCT u AS v, u AS lbl FROM g),
         | $stages
         | SELECT v AS suppkey, CAST(lbl AS BIGINT) AS community
         | FROM l4""".stripMargin
    },
    "q105_khop_reach" ->
      """WITH seed AS (SELECT c_custkey FROM customer
        |   WHERE c_nationkey = 0),
        | o1 AS (SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM seed)),
        | s2 AS (SELECT DISTINCT l_suppkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM o1)),
        | c3 AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |    WHERE l_suppkey IN (SELECT l_suppkey FROM s2)))
        | SELECT (SELECT count(*) FROM seed) AS n_seed,
        |  (SELECT count(*) FROM o1) AS n_orders_1hop,
        |  (SELECT count(*) FROM s2) AS n_suppliers_2hop,
        |  (SELECT count(*) FROM c3) AS n_customers_3hop""".stripMargin,
    "q230_wedge_triangles" ->
      """WITH be AS (SELECT DISTINCT l_orderkey AS s, l_suppkey AS d
        |   FROM lineitem),
        | g0 AS (SELECT x.d AS u, y.d AS v, count(*) AS shared
        |  FROM be x JOIN be y ON x.s = y.s AND x.d < y.d
        |  GROUP BY x.d, y.d HAVING count(*) >= 2),
        | g AS (SELECT u, v FROM g0
        |  ORDER BY shared DESC, u, v LIMIT 2000),
        | und AS (SELECT u AS c, v AS n FROM g
        |  UNION ALL SELECT v, u FROM g),
        | deg AS (SELECT c, CAST(count(*) AS BIGINT) AS dg
        |  FROM und GROUP BY 1),
        | tot AS (SELECT CAST(sum((dg * (dg - 1)) // 2) AS BIGINT)
        |   AS n_wedges FROM deg),
        | wed AS (SELECT a.n AS a, a.c AS c, b.n AS b
        |  FROM und a JOIN und b ON a.c = b.c AND a.n < b.n),
        | samp AS (SELECT a, c, b FROM wed
        |  WHERE ((((c * 1000003 + a) % 1000000007) * 1000003 + b)
        |    % 1000000007) % 8 = 0),
        | cl AS (SELECT CAST(count(*) AS BIGINT) AS n_sampled,
        |   CAST(sum(CASE WHEN gg.u IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_closed
        |  FROM samp LEFT JOIN g gg
        |   ON gg.u = samp.a AND gg.v = samp.b),
        | ex AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM g e1 JOIN g e2 ON e1.v = e2.u
        |  JOIN g e3 ON e3.u = e1.u AND e3.v = e2.v)
        | SELECT n_wedges, n_sampled, n_closed,
        |  CASE WHEN n_sampled = 0 THEN 0.0
        |   ELSE round(CAST(n_closed AS DOUBLE) * n_wedges
        |    / (n_sampled * 3), 6) END AS est_triangles,
        |  n_triangles AS exact_triangles
        | FROM cl, tot, ex""".stripMargin,
    "q289_personalized_pagerank" -> {
      val iter = (1 to 3).map { r =>
        s"""i$r AS (SELECT base.v,
           |   (15 * base.tp) // 100
           |    + (85 * coalesce(sc.in_sum, 0)) // 100 AS rank
           |  FROM base LEFT JOIN (
           |   SELECT g.v AS v,
           |    CAST(sum(r.rank // d.deg) AS BIGINT) AS in_sum
           |   FROM i${r - 1} r JOIN deg d ON r.v = d.u
           |    JOIN g ON g.u = r.v
           |   GROUP BY g.v) sc ON base.v = sc.v)""".stripMargin
      }.mkString(",\n ")
      s"""WITH co AS (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 10),
        | g AS (SELECT u, v FROM co UNION ALL SELECT v, u FROM co),
        | verts AS (SELECT DISTINCT u AS v FROM g),
        | ns AS (SELECT count(*) AS ns FROM verts WHERE v % 50 = 0),
        | deg AS (SELECT u, count(*) AS deg FROM g GROUP BY 1),
        | base AS (SELECT verts.v, CASE WHEN verts.v % 50 = 0
        |   THEN (SELECT 1000000000000 // ns FROM ns) ELSE 0 END AS tp
        |  FROM verts),
        | i0 AS (SELECT v, tp AS rank FROM base),
        | $iter
        | SELECT v AS suppkey, CAST(rank AS BIGINT) AS rank
        | FROM i3 ORDER BY rank DESC, v LIMIT 30""".stripMargin
    },
    "q303_hub_robustness" ->
      """WITH RECURSIVE co AS MATERIALIZED (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 10),
        | g AS MATERIALIZED (SELECT u, v FROM co
        |  UNION ALL SELECT v, u FROM co),
        | hubs AS MATERIALIZED (SELECT u FROM (
        |  SELECT u, count(*) AS deg FROM g GROUP BY 1
        |  ORDER BY deg DESC, u LIMIT 5)),
        | g2 AS MATERIALIZED (SELECT u, v FROM g
        |  WHERE u NOT IN (SELECT u FROM hubs)
        |   AND v NOT IN (SELECT u FROM hubs)),
        | wb(v, r) AS (SELECT u, u FROM g
        |  UNION SELECT e.v, w.r FROM wb w JOIN g e ON e.u = w.v),
        | cb AS (SELECT v, min(r) AS comp FROM wb GROUP BY 1),
        | sb AS (SELECT comp, count(*) AS sz FROM cb GROUP BY 1),
        | bb AS (SELECT CAST(count(*) AS BIGINT) AS comps_before,
        |  CAST(max(sz) AS BIGINT) AS giant_before FROM sb),
        | wa(v, r) AS (SELECT u, u FROM g2
        |  UNION SELECT e.v, w.r FROM wa w JOIN g2 e ON e.u = w.v),
        | ca AS (SELECT v, min(r) AS comp FROM wa GROUP BY 1),
        | sa AS (SELECT comp, count(*) AS sz FROM ca GROUP BY 1),
        | ba AS (SELECT CAST(count(*) AS BIGINT) AS comps_after,
        |  CAST(max(sz) AS BIGINT) AS giant_after FROM sa)
        | SELECT comps_before, giant_before, comps_after, giant_after,
        |  round(CAST(giant_before - giant_after AS DOUBLE)
        |    / CAST(giant_before AS DOUBLE), 6) AS giant_drop_frac
        | FROM bb CROSS JOIN ba""".stripMargin,
    "q305_assortativity" ->
      """WITH co AS (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 10),
        | g AS (SELECT u, v FROM co UNION ALL SELECT v, u FROM co),
        | deg AS (SELECT u, count(*) AS deg FROM g GROUP BY 1),
        | m AS (SELECT count(*) AS m,
        |   CAST(sum(dx.deg) AS BIGINT) AS sx,
        |   CAST(sum(dy.deg) AS BIGINT) AS sy,
        |   CAST(sum(dx.deg * dy.deg) AS BIGINT) AS sxy,
        |   CAST(sum(dx.deg * dx.deg) AS BIGINT) AS sxx,
        |   CAST(sum(dy.deg * dy.deg) AS BIGINT) AS syy
        |  FROM g JOIN deg dx ON g.u = dx.u
        |   JOIN deg dy ON g.v = dy.u)
        | SELECT CAST(m AS BIGINT) AS n_edges,
        |  CASE WHEN m * sxx = sx * sx OR m * syy = sy * sy THEN 0.0
        |  ELSE round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   / sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |     * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) END
        |   AS assortativity
        | FROM m""".stripMargin,
    "q308_modularity" ->
      """WITH co AS (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 10),
        | e AS (SELECT co.u, co.v,
        |   sa.s_nationkey AS na, sb.s_nationkey AS nb
        |  FROM co JOIN supplier sa ON co.u = sa.s_suppkey
        |   JOIN supplier sb ON co.v = sb.s_suppkey),
        | dbl AS (SELECT u, na AS nk FROM e
        |  UNION ALL SELECT v, nb FROM e),
        | dc AS (SELECT nk, CAST(count(*) AS BIGINT) AS d_c
        |  FROM dbl GROUP BY 1),
        | ec AS (SELECT na AS nk, CAST(count(*) AS BIGINT) AS e_c
        |  FROM e WHERE na = nb GROUP BY 1),
        | mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        | comm AS (SELECT dc.nk, dc.d_c,
        |   coalesce(ec.e_c, 0) AS e_c
        |  FROM dc LEFT JOIN ec ON dc.nk = ec.nk)
        | SELECT CAST(max(m) AS BIGINT) AS n_edges,
        |  CAST(count(*) AS BIGINT) AS n_communities,
        |  round(CAST(sum(4 * m * e_c - d_c * d_c) AS DOUBLE)
        |   / (4.0 * CAST(max(m) AS DOUBLE)
        |     * CAST(max(m) AS DOUBLE)), 6) AS modularity
        | FROM comm CROSS JOIN mm""".stripMargin,
    "q311_hits" ->
      """WITH e AS (SELECT DISTINCT o.o_custkey AS c,
        |   l.l_suppkey AS sp
        |  FROM orders o JOIN lineitem l
        |   ON o.o_orderkey = l.l_orderkey),
        | h1 AS (SELECT c, CAST(count(*) AS BIGINT) AS h1
        |  FROM e GROUP BY 1),
        | a1 AS (SELECT sp, CAST(sum(h1.h1) AS BIGINT) AS a1
        |  FROM e JOIN h1 USING (c) GROUP BY 1),
        | h2 AS (SELECT c, CAST(sum(a1.a1) AS BIGINT) AS h2
        |  FROM e JOIN a1 USING (sp) GROUP BY 1),
        | a2 AS (SELECT sp, CAST(sum(h2.h2) AS BIGINT) AS a2
        |  FROM e JOIN h2 USING (c) GROUP BY 1)
        | SELECT CAST(sp AS BIGINT) AS suppkey, a2
        | FROM a2 ORDER BY a2 DESC, sp LIMIT 15""".stripMargin,
    "q315_link_prediction" ->
      """WITH cw AS (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v,
        |   count(*) AS shared
        |  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        | co AS (SELECT u, v FROM cw
        |  ORDER BY shared DESC, u, v LIMIT 2000),
        | g AS (SELECT u, v FROM co UNION ALL SELECT v, u FROM co),
        | deg AS (SELECT u, CAST(count(*) AS BIGINT) AS dg
        |  FROM g GROUP BY 1),
        | w AS (SELECT e1.v AS a, e2.v AS b, deg.dg
        |  FROM g e1 JOIN g e2 ON e1.u = e2.u AND e1.v < e2.v
        |  JOIN deg ON deg.u = e1.u),
        | sc AS (SELECT a, b, CAST(sum(1000000 // dg) AS BIGINT) AS ra,
        |   CAST(count(*) AS BIGINT) AS shared FROM w GROUP BY 1, 2),
        | pred AS (SELECT sc.* FROM sc LEFT JOIN co
        |   ON co.u = sc.a AND co.v = sc.b WHERE co.u IS NULL)
        | SELECT CAST(a AS BIGINT) AS supp_a, CAST(b AS BIGINT) AS supp_b,
        |  shared, ra
        | FROM pred ORDER BY ra DESC, a, b LIMIT 15""".stripMargin,
    "q316_harmonic_centrality" ->
      """WITH RECURSIVE cw AS (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v,
        |   count(*) AS shared
        |  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        | co AS (SELECT u, v FROM cw
        |  ORDER BY shared DESC, u, v LIMIT 2000),
        | g AS (SELECT u, v FROM co UNION ALL SELECT v, u FROM co),
        | walk(seed, v, dist) AS (
        |  SELECT s_suppkey, s_suppkey, 0 FROM supplier
        |  WHERE s_suppkey % 25 = 0
        |  UNION
        |  SELECT walk.seed, g.v, walk.dist + 1
        |  FROM walk JOIN g ON g.u = walk.v
        |  WHERE walk.dist < 4),
        | md AS (SELECT seed, v, min(dist) AS dist
        |  FROM walk GROUP BY 1, 2)
        | SELECT CAST(v AS BIGINT) AS suppkey,
        |  CAST(count(*) AS BIGINT) AS n_landmarks,
        |  CAST(sum(1000000 // dist) AS BIGINT) AS harmonic
        | FROM md WHERE dist > 0 GROUP BY 1
        | ORDER BY harmonic DESC, suppkey LIMIT 15""".stripMargin
  )
}
