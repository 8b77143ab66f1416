package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize.hold
import graft.Tables
import graft.functions.Sketches

/** Sketch coverage: bounded-state aggregates for the 100 TB regime.
  *
  * BOTH sketches here are differentially testable END-TO-END: they
  * seed their sampling with the plain arithmetic [[Sketches.sampleHash]]
  * rather than xxhash64, so the oracle reproduces the exact k-minima /
  * bottom-k sample and the identical estimate formula — *approximate*
  * sketches with *exact* oracles, because the approximation is
  * deterministic. (Production callers needing stronger mixing or
  * non-integer keys use the xxhash64 family — SketchesSpec proves its
  * accuracy, determinism, and exact mergeability separately.)
  */
object SketchQueries extends QueryPack {

  protected val entries: Map[String, Query] = Map(
    // per-event-type approximate distinct users, k=256 (~6% σ);
    // arithmetic hash family → DuckDB recomputes the estimate exactly
    "q80_kmv_distinct" -> ((s, d) =>
      Sketches.approxDistinctByKey(Tables.events(s, d),
        Seq("event_type"), "user_id", k = 256, arithHash = true)),
    // per-flag price quantiles from a k=200 bottom-k-by-hash sample:
    // one pass, ≤200 pairs of state per group on the map side.
    "q88_quantile_sketch" -> ((s, d) =>
      Sketches.approxQuantilesByKey(
        Tables.lineitem(s, d)
          .withColumn("rid", col("l_orderkey") * 10 + col("l_linenumber")),
        Seq("l_returnflag"), "rid", "l_extendedprice",
        Map("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99), k = 200)),
    // exact corpus heavy hitters (words with count > n/1000) via the
    // two-pass Misra–Gries shape: a single ≤2000-entry mergeable
    // summary replaces the full-vocabulary shuffle for candidate
    // generation; the exact verify pass counts only candidates. The
    // sketch is approximate and partitioning-dependent, the OUTPUT is
    // exact and deterministic (MG guarantee: cap 2000 ≥ denom 1000).
    "q130_heavy_hitters" -> ((s, d) =>
      Sketches.exactHeavyHitters(
        Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w")),
        "w", threshDenom = 1000L, cap = 2000)),
    // Per-source vocabulary-size estimate over STRING keys: words
    // bridge into the arithmetic KMV family via their md5-60 hash
    // (Dedup.md5Hash60 — oracle-recomputable, unlike xxhash64), so
    // the bounded-state sketch pipeline covers text keys with an
    // exact DuckDB recompute. k=256 ⇒ ≤2 KB state per source however
    // large the corpus — the 100 TB path for per-domain vocab stats.
    "q202_vocab_kmv" -> ((s, d) =>
      Sketches.approxDistinctByKey(
        Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .select(col("source"), Dedup.md5Hash60(col("w")).as("wid")),
        Seq("source"), "wid", k = 256, arithHash = true)),
    // |orders ⨝ lineitem| on orderkey WITHOUT running the join: a
    // k=512 KMV sample of the union key domain, per-side counts only
    // on sampled keys, Σ cntA·cntB scaled by D̂/k — the pre-shuffle
    // cardinality signal a planner wants at 100 TB. Arithmetic hash ⇒
    // the oracle recomputes sample, θ, and estimate bit-for-bit.
    "q197_join_size_estimate" -> ((s, d) =>
      Sketches.joinSizeEstimate(
        Tables.orders(s, d), "o_orderkey",
        Tables.lineitem(s, d), "l_orderkey", k = 512)),
    // Count-min sketch (Cormode & Muthukrishnan) over the word
    // stream: 4 rows × 1024 md5-hashed cells — a fixed 4096-counter
    // mergeable summary however large the corpus (map-side combine
    // into cells; at 100 TB the sketch IS the shuffle). Point
    // estimates for the exact top-20 words vs their true counts show
    // the signature one-sided error: est ≥ exact always, overcount =
    // colliding mass. md5-60 cell hashing ⇒ the oracle rebuilds the
    // identical sketch and estimates, integer-exact.
    "q227_countmin_words" -> ((s, d) => {
      val width = 1024L
      val wc = hold(Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c")))
      val rows = s.range(4).select(col("id").as("r"))
      def cellId = pmod(
        Dedup.md5Hash60(concat_ws("_", col("r"), col("word"))),
        lit(width))
      val cells = wc.crossJoin(broadcast(rows))
        .select(col("r"), cellId.as("cid"), col("c"))
        .groupBy(col("r"), col("cid"))
        .agg(sum(col("c")).as("cell"))
      wc.orderBy(col("c").desc, col("word").asc).limit(20)
        .crossJoin(broadcast(rows))
        .select(col("word"), col("c"), col("r"), cellId.as("cid"))
        .join(broadcast(cells), Seq("r", "cid"))
        .groupBy(col("word"), col("c"))
        .agg(min(col("cell")).cast("long").as("est"))
        .select(col("word"), col("c").cast("long").as("exact"),
          col("est"), (col("est") - col("c")).cast("long")
            .as("overcount"))
    }),
    // HyperLogLog distinct-users per event type (Flajolet et al.
    // 2007): m=256 registers over the md5-60 hash — register =
    // h mod 256, rank = trailing zeros of h>>8 plus one (the LSB
    // variant, because w & -w isolates the low bit as an EXACT power
    // of two in both engines, so round(log2(·)) is cross-engine
    // integer-safe where a leading-zero count would need a bit-length
    // primitive). The harmonic-mean denominator Σ2^-Mj is kept as an
    // exact integer scaled by 2^53 (≤256·2^53 < 2^62), so the raw
    // estimate is ONE deterministic double division; linear counting
    // (v_zero>0 ∧ E≤2.5m) is the only transcendental branch, rounded
    // to 4 decimals. State: 256 longs per key however large the
    // corpus — the industry-standard cardinality sketch at 100 TB,
    // here with an exact oracle because the hash is recomputable.
    "q264_hll_cardinality" -> ((s, d) => {
      val m = 256
      val two53 = 9007199254740992L
      val ev = Tables.events(s, d)
      val regs = ev.select(col("event_type"),
          Dedup.md5Hash60(col("user_id")).as("h"))
        .select(col("event_type"),
          pmod(col("h"), lit(m.toLong)).as("reg"),
          shiftright(col("h"), 8).as("w"))
        .select(col("event_type"), col("reg"),
          when(col("w") === 0L, lit(53L))
            .otherwise(round(log2(col("w").bitwiseAND(-col("w"))
              .cast("double"))).cast("long") + lit(1L)).as("r"))
        .groupBy(col("event_type"), col("reg"))
        .agg(max(col("r")).as("mj"))
      val stats = regs.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nreg"),
          sum(pow(lit(2.0), lit(53) - col("mj")).cast("long"))
            .as("sp"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      val alphaM2 = 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
      stats.select(col("event_type"),
          (lit(m.toLong) - col("nreg")).as("v_zero"),
          (col("sp") + (lit(m.toLong) - col("nreg")) * lit(two53))
            .as("stot"))
        .select(col("event_type"), col("v_zero"),
          (lit(alphaM2) * lit(two53.toDouble)
            / col("stot").cast("double")).as("e_raw"))
        .select(col("event_type"), col("v_zero"),
          round(when(col("v_zero") > 0L && col("e_raw") <= lit(640.0),
            lit(m.toDouble) * log(lit(m.toDouble)
              / col("v_zero").cast("double")))
            .otherwise(col("e_raw")), 4).as("hll_est"))
        .join(exact, "event_type")
        .select(col("event_type"), col("n_exact"), col("v_zero"),
          col("hll_est"),
          round((col("hll_est") - col("n_exact").cast("double"))
            / col("n_exact").cast("double"), 6).as("rel_err"))
    }),
    // Pairwise source-vocabulary similarity matrix from k=128 KMV
    // sketches (Beyer et al. 2007 bottom-k): per source keep the 128
    // smallest md5-60 word hashes; for each source pair, J ≈ |bottom-k
    // of the sketch union present in BOTH sketches| / k — the
    // "which sources are telling us the same thing" dedup-planning
    // readout, K² pairs from K·k sketch rows instead of a vocab-sized
    // join per pair. Exact Jaccard computed alongside as the audit
    // (word-keyed source-pair co-occurrence, bounded by K² per word)
    // with the estimator's signed error. The estimate is DETERMINISTIC
    // (hash order), so the oracle recomputes it exactly.
    "q279_source_sketch_jaccard" -> ((s, d) => {
      val k = 128
      val words = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .distinct()
      val sk = words
        .select(col("source"), Dedup.md5Hash60(col("w")).as("h"))
        .distinct()
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("h"))))
        .filter(col("rn") <= k).select(col("source"), col("h"))
      val srcs = words.select(col("source")).distinct()
      val pairs = srcs.select(col("source").as("s1"))
        .crossJoin(broadcast(srcs.select(col("source").as("s2"))))
        .filter(col("s1") < col("s2"))
      val cand = pairs
        .join(sk.select(col("source").as("s1"), col("h")), Seq("s1"))
        .select(col("s1"), col("s2"), col("h"),
          lit(1L).as("ia"), lit(0L).as("ib"))
        .unionByName(pairs
          .join(sk.select(col("source").as("s2"), col("h")), Seq("s2"))
          .select(col("s1"), col("s2"), col("h"),
            lit(0L).as("ia"), lit(1L).as("ib")))
        .groupBy(col("s1"), col("s2"), col("h"))
        .agg(max(col("ia")).as("a"), max(col("ib")).as("b"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("s1"), col("s2")).orderBy(col("h"))))
        .filter(col("rn") <= k)
      val est = cand.groupBy(col("s1"), col("s2"))
        .agg(count(lit(1)).as("ku"),
          sum(col("a") * col("b")).as("ik"))
      val inter = words.select(col("source").as("s1"), col("w"))
        .join(words.select(col("source").as("s2"), col("w")), Seq("w"))
        .filter(col("s1") < col("s2"))
        .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("ninter"))
      val vs = words.groupBy(col("source")).agg(count(lit(1)).as("v"))
      est.join(inter, Seq("s1", "s2"))
        .join(broadcast(vs.select(col("source").as("s1"),
          col("v").as("v1"))), Seq("s1"))
        .join(broadcast(vs.select(col("source").as("s2"),
          col("v").as("v2"))), Seq("s2"))
        .select(col("s1"), col("s2"),
          round(col("ik").cast("double") / col("ku").cast("double"), 6)
            .as("j_est"),
          round(col("ninter").cast("double")
            / (col("v1") + col("v2") - col("ninter")).cast("double"), 6)
            .as("j_exact"))
        .select(col("s1"), col("s2"), col("j_est"), col("j_exact"),
          round(col("j_est") - col("j_exact"), 6).as("est_err"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q130_heavy_hitters" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
        |   FROM documents),
        | cnt AS (SELECT w, count(*) AS c FROM w GROUP BY w),
        | tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt)
        | SELECT w, CAST(c AS BIGINT) AS cnt FROM cnt, tot
        | WHERE c > n // 1000""".stripMargin,
    // q80's ranked-minima recompute over the md5-60 word hash
    "q202_vocab_kmv" -> {
      val md5Sql = DedupQueries.md5Hex60Sql
      s"""WITH w0 AS (SELECT source,
        |   unnest(string_split(text, ' ')) AS w FROM documents),
        | hm AS (SELECT source, md5(w) AS m FROM w0),
        | hh AS (SELECT DISTINCT source,
        |   (($md5Sql) % 1000000007) * 2654435761 % 999999999989 AS h
        |  FROM hm),
        | ranked AS (SELECT source, h,
        |   row_number() OVER (PARTITION BY source ORDER BY h) AS rk,
        |   count(*) OVER (PARTITION BY source) AS cnt FROM hh)
        | SELECT source,
        |  CASE WHEN max(cnt) < 256 THEN CAST(max(cnt) AS DOUBLE)
        |   ELSE round(255.0 / (CAST(max(CASE WHEN rk = 256 THEN h END)
        |     AS DOUBLE) / 999999999989.0), 2) END AS approx_distinct
        | FROM ranked GROUP BY source""".stripMargin
    },
    // the estimator replayed relationally: distinct union-domain
    // hashes → kth smallest = θ → per-side counts on keys ≤ θ →
    // Σ ca·cb scaled by ((k−1)/(θ/space))/k, identical op order
    "q197_join_size_estimate" ->
      """WITH keys AS (SELECT o_orderkey AS key FROM orders
        |   UNION ALL SELECT l_orderkey FROM lineitem),
        | h AS (SELECT DISTINCT
        |   (key % 1000000007) * 2654435761 % 999999999989 AS h
        |  FROM keys),
        | ranked AS (SELECT h, row_number() OVER (ORDER BY h) AS rk,
        |   count(*) OVER () AS n FROM h),
        | th AS (SELECT max(CASE WHEN rk = least(n, 512) THEN h END)
        |    AS theta, max(least(n, 512)) AS n_sk FROM ranked),
        | ca AS (SELECT o_orderkey AS key, count(*) AS ca
        |  FROM orders, th
        |  WHERE (o_orderkey % 1000000007) * 2654435761 % 999999999989
        |    <= th.theta GROUP BY 1),
        | cb AS (SELECT l_orderkey AS key, count(*) AS cb
        |  FROM lineitem, th
        |  WHERE (l_orderkey % 1000000007) * 2654435761 % 999999999989
        |    <= th.theta GROUP BY 1),
        | j AS (SELECT CAST(coalesce(sum(ca.ca * cb.cb), 0) AS BIGINT)
        |    AS j_samp FROM ca JOIN cb USING (key))
        | SELECT j_samp, CAST(n_sk AS BIGINT) AS n_sample_keys,
        |  CASE WHEN n_sk < 512 THEN CAST(j_samp AS DOUBLE)
        |   ELSE round(j_samp * (511.0 /
        |     (CAST(theta AS DOUBLE) / 999999999989.0)) / 512.0, 2)
        |  END AS est_join_rows
        | FROM j, th""".stripMargin,
    "q80_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type,
        |   (user_id % 1000000007) * 2654435761 % 999999999989 AS h
        |  FROM events),
        | ranked AS (SELECT event_type, h,
        |   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
        |   count(*) OVER (PARTITION BY event_type) AS cnt FROM h)
        | SELECT event_type,
        |  CASE WHEN max(cnt) < 256 THEN CAST(max(cnt) AS DOUBLE)
        |   ELSE round(255.0 / (CAST(max(CASE WHEN rk = 256 THEN h END)
        |     AS DOUBLE) / 999999999989.0), 2) END AS approx_distinct
        | FROM ranked GROUP BY event_type""".stripMargin,
    "q88_quantile_sketch" ->
      """WITH base AS (SELECT l_returnflag AS grp,
        |   ((l_orderkey * 10 + l_linenumber) % 1000000007)
        |     * 2654435761 % 999999999989 AS h,
        |   CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
        | ranked AS (SELECT grp, v, h,
        |   row_number() OVER (PARTITION BY grp ORDER BY h, v) AS rk,
        |   count(*) OVER (PARTITION BY grp) AS cnt FROM base),
        | samp AS (SELECT grp, v,
        |   CAST(least(cnt, 200) AS BIGINT) AS n FROM ranked
        |  WHERE rk <= 200),
        | byv AS (SELECT grp, v, n,
        |   row_number() OVER (PARTITION BY grp ORDER BY v) AS vr
        |  FROM samp),
        | pl AS (SELECT unnest([0.5, 0.9, 0.99]) AS p),
        | j AS (SELECT b.grp, p.p, b.n, b.vr, b.v,
        |   CAST(floor(p.p * (b.n - 1)) AS BIGINT) AS flo,
        |   p.p * (b.n - 1) - floor(p.p * (b.n - 1)) AS frac
        |  FROM byv b CROSS JOIN pl p),
        | agg AS (SELECT grp, p, any_value(frac) AS frac,
        |   max(CASE WHEN vr = flo + 1 THEN v END) AS vlo,
        |   max(CASE WHEN vr = least(flo + 2, n) THEN v END) AS vhi
        |  FROM j GROUP BY grp, p)
        | SELECT grp AS l_returnflag,
        |  round(max(CASE WHEN p = 0.5 THEN vlo + frac * (vhi - vlo) END),
        |    6) AS p50,
        |  round(max(CASE WHEN p = 0.9 THEN vlo + frac * (vhi - vlo) END),
        |    6) AS p90,
        |  round(max(CASE WHEN p = 0.99 THEN vlo + frac * (vhi - vlo) END),
        |    6) AS p99
        | FROM agg GROUP BY grp""".stripMargin,
    "q227_countmin_words" -> {
      val h60 = DedupQueries.md5Hex60Sql
      s"""WITH wc AS (SELECT w AS word, count(*) AS c FROM (
        |   SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1),
        | rows4 AS (SELECT CAST(r AS BIGINT) AS r
        |  FROM UNNEST(generate_series(0, 3)) t(r)),
        | hm AS (SELECT word, c, r,
        |   md5(CAST(r AS VARCHAR) || '_' || word) AS m
        |  FROM wc CROSS JOIN rows4),
        | cellids AS (SELECT word, c, r, ($h60) % 1024 AS cid FROM hm),
        | cells AS (SELECT r, cid, CAST(sum(c) AS BIGINT) AS cell
        |  FROM cellids GROUP BY 1, 2),
        | top AS (SELECT word, c FROM wc
        |  ORDER BY c DESC, word LIMIT 20)
        | SELECT t.word, CAST(t.c AS BIGINT) AS exact,
        |  CAST(min(cells.cell) AS BIGINT) AS est,
        |  CAST(min(cells.cell) - t.c AS BIGINT) AS overcount
        | FROM top t JOIN cellids ci ON ci.word = t.word
        | JOIN cells ON cells.r = ci.r AND cells.cid = ci.cid
        | GROUP BY t.word, t.c""".stripMargin
    },
    // the sketch replayed relationally with the identical integer
    // discipline: exact 2^53-scaled register sums, one double
    // division, ln only in the linear-counting branch
    "q264_hll_cardinality" -> {
      val h60 = DedupQueries.md5Hex60Sql
      s"""WITH hm AS (SELECT event_type, user_id,
        |   md5(CAST(user_id AS VARCHAR)) AS m FROM events),
        | hh AS (SELECT event_type, ($h60) AS h FROM hm),
        | rg AS (SELECT event_type, h % 256 AS reg, h >> 8 AS w
        |  FROM hh),
        | rho AS (SELECT event_type, reg, CASE WHEN w = 0 THEN 53
        |   ELSE CAST(round(log2(CAST(w & -w AS DOUBLE))) AS BIGINT)
        |    + 1 END AS r FROM rg),
        | mr AS (SELECT event_type, reg, max(r) AS mj
        |  FROM rho GROUP BY 1, 2),
        | st AS (SELECT event_type, count(*) AS nreg,
        |   CAST(sum(CAST(power(2, 53 - mj) AS BIGINT)) AS BIGINT)
        |    AS sp FROM mr GROUP BY 1),
        | e0 AS (SELECT event_type,
        |   CAST(256 - nreg AS BIGINT) AS v_zero,
        |   sp + (256 - nreg) * 9007199254740992 AS stot FROM st),
        | e1 AS (SELECT event_type, v_zero,
        |   (0.7213 / (1 + 1.079 / 256.0) * 256.0 * 256.0)
        |     * 9007199254740992.0 / CAST(stot AS DOUBLE) AS e_raw
        |  FROM e0),
        | est AS (SELECT event_type, v_zero,
        |   round(CASE WHEN v_zero > 0 AND e_raw <= 640
        |    THEN 256.0 * ln(256.0 / CAST(v_zero AS DOUBLE))
        |    ELSE e_raw END, 4) AS hll_est FROM e1),
        | ex AS (SELECT event_type,
        |   CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        |  FROM events GROUP BY 1)
        | SELECT e.event_type, x.n_exact, e.v_zero, e.hll_est,
        |  round((e.hll_est - CAST(x.n_exact AS DOUBLE))
        |    / CAST(x.n_exact AS DOUBLE), 6) AS rel_err
        | FROM est e JOIN ex x ON e.event_type = x.event_type""".stripMargin
    },
    "q279_source_sketch_jaccard" -> {
      val h60 = DedupQueries.md5Hex60Sql
      s"""WITH words AS (SELECT DISTINCT source, w FROM (
        |   SELECT source, unnest(string_split(text, ' ')) AS w
        |   FROM documents)),
        | hm AS (SELECT DISTINCT source, ($h60) AS h FROM (
        |   SELECT source, md5(w) AS m FROM words)),
        | sk AS (SELECT source, h FROM (SELECT source, h,
        |   row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |  FROM hm) WHERE rn <= 128),
        | srcs AS (SELECT DISTINCT source FROM words),
        | pairs AS (SELECT a.source AS s1, b.source AS s2
        |  FROM srcs a CROSS JOIN srcs b WHERE a.source < b.source),
        | cand AS (SELECT s1, s2, h, max(ia) AS a, max(ib) AS b FROM (
        |   SELECT p.s1, p.s2, sk.h, 1 AS ia, 0 AS ib
        |    FROM pairs p JOIN sk ON sk.source = p.s1
        |   UNION ALL
        |   SELECT p.s1, p.s2, sk.h, 0 AS ia, 1 AS ib
        |    FROM pairs p JOIN sk ON sk.source = p.s2)
        |  GROUP BY 1, 2, 3),
        | topk AS (SELECT s1, s2, a, b FROM (SELECT s1, s2, a, b,
        |   row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS rn
        |  FROM cand) WHERE rn <= 128),
        | est AS (SELECT s1, s2, count(*) AS ku,
        |   sum(a * b) AS ik FROM topk GROUP BY 1, 2),
        | inter AS (SELECT a.source AS s1, b.source AS s2,
        |   count(*) AS ninter
        |  FROM words a JOIN words b
        |   ON a.w = b.w AND a.source < b.source GROUP BY 1, 2),
        | vs AS (SELECT source, count(*) AS v FROM words GROUP BY 1),
        | j AS (SELECT e.s1, e.s2,
        |   round(CAST(ik AS DOUBLE) / CAST(ku AS DOUBLE), 6) AS j_est,
        |   round(CAST(ninter AS DOUBLE)
        |     / CAST(v1.v + v2.v - ninter AS DOUBLE), 6) AS j_exact
        |  FROM est e JOIN inter i ON e.s1 = i.s1 AND e.s2 = i.s2
        |   JOIN vs v1 ON v1.source = e.s1
        |   JOIN vs v2 ON v2.source = e.s2)
        | SELECT s1, s2, j_est, j_exact,
        |  round(j_est - j_exact, 6) AS est_err FROM j""".stripMargin
    }
  )
}
