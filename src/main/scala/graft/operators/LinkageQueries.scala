package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Record-linkage coverage: blocked fuzzy joins over a
  * deterministically dirtied customer register. The dirty copy
  * substitutes position 12 of every name with 'X' (a fixed-position
  * typo inside the low-entropy digit run), so each dirty record has
  * EXACTLY one true match at distance 1 and the last-4-suffix block
  * key provably survives the edit — both engines recompute the
  * identical pair set, making the oracle exact rather than
  * recall-qualified. */
object LinkageQueries extends QueryPack {

  protected val entries: Map[String, Query] = Map(
    // Blocked fuzzy join: 15k-name register, suffix-4 blocking,
    // Levenshtein <= 1 verify. One equi-join shuffle; block sizes are
    // bounded by suffix cardinality, so candidates grow linearly.
    "q189_fuzzy_link" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"))
      val dirty = cust.select(
        (col("c_custkey") + 1000000L).as("id"),
        concat(substring(col("c_name"), 1, 11), lit("X"),
          substring(col("c_name"), 13, 64)).as("name"))
      Linkage.blockedFuzzyJoin(
        dirty, "id", "name", cust, "c_custkey", "c_name",
        Linkage.suffixKey(4), maxDist = 1)
    }),
    // Fellegi–Sunter match/unmatch weights (Fellegi & Sunter 1969,
    // the probabilistic record-linkage standard): per-field m =
    // P(agree|match) and u = P(agree|non-match) estimated from
    // suffix-3-blocked candidate pairs over the dirtied register
    // (truth = id offset, so m/u are exact, not EM-estimated), with
    // the log-likelihood agreement/disagreement weights ln(m/u) and
    // ln((1−m)/(1−u)) a scorer would sum per pair. Laplace +1/+2
    // keeps the logs finite; each weight is ONE ln over a ratio of
    // exact integer products. Fields: name-within-1-edit, nationkey
    // (corrupted on every 3rd dirty row), mktsegment. Block key
    // cardinality must scale with n in production — the suffix length
    // is the knob; 3 digits bounds blocks at sf scales.
    "q291_fellegi_sunter" -> ((s, d) => {
      val cust = Tables.customer(s, d).select(col("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_mktsegment"))
      val db = cust.select(
        (col("c_custkey") + 1000000L).as("did"),
        concat(substring(col("c_name"), 1, 11), lit("X"),
          substring(col("c_name"), 13, 64)).as("dname"),
        when(col("c_custkey") % 3 === 0, col("c_nationkey") + 1)
          .otherwise(col("c_nationkey")).as("dnat"),
        col("c_mktsegment").as("dseg"))
        .withColumn("bk", substring(col("dname"), 16, 3))
      val cb = cust.select(col("c_custkey").as("cid"),
        col("c_name").as("cname"), col("c_nationkey").as("cnat"),
        col("c_mktsegment").as("cseg"))
        .withColumn("bk", substring(col("cname"), 16, 3))
      val agg = db.join(cb, Seq("bk"))
        .select((col("did") - 1000000L === col("cid")).as("mt"),
          (levenshtein(col("dname"), col("cname")) <= 1).as("an"),
          (col("dnat") === col("cnat")).as("ana"),
          (col("dseg") === col("cseg")).as("as_"))
        .agg(sum(when(col("mt"), 1L).otherwise(0L)).as("nm"),
          sum(when(!col("mt"), 1L).otherwise(0L)).as("nu"),
          sum(when(col("mt") && col("an"), 1L).otherwise(0L)).as("m1"),
          sum(when(!col("mt") && col("an"), 1L).otherwise(0L)).as("u1"),
          sum(when(col("mt") && col("ana"), 1L).otherwise(0L)).as("m2"),
          sum(when(!col("mt") && col("ana"), 1L).otherwise(0L))
            .as("u2"),
          sum(when(col("mt") && col("as_"), 1L).otherwise(0L))
            .as("m3"),
          sum(when(!col("mt") && col("as_"), 1L).otherwise(0L))
            .as("u3"))
      agg.select(explode(array(
          struct(lit("name_lev1").as("field"), col("m1").as("ma"),
            col("u1").as("ua")),
          struct(lit("nationkey").as("field"), col("m2").as("ma"),
            col("u2").as("ua")),
          struct(lit("mktsegment").as("field"), col("m3").as("ma"),
            col("u3").as("ua")))).as("f"), col("nm"), col("nu"))
        .select(col("f.field").as("field"), col("nm"), col("nu"),
          col("f.ma").as("ma"), col("f.ua").as("ua"))
        .select(col("field"), col("nm"), col("nu"),
          round((col("ma") + 1L).cast("double")
            / (col("nm") + 2L).cast("double"), 6).as("m_prob"),
          round((col("ua") + 1L).cast("double")
            / (col("nu") + 2L).cast("double"), 6).as("u_prob"),
          round(log(((col("ma") + 1L) * (col("nu") + 2L))
            .cast("double")
            / ((col("ua") + 1L) * (col("nm") + 2L)).cast("double")),
            6).as("w_agree"),
          round(log(((col("nm") - col("ma") + 1L)
              * (col("nu") + 2L)).cast("double")
            / ((col("nu") - col("ua") + 1L)
              * (col("nm") + 2L)).cast("double")), 6).as("w_disagree"))
    }),
    // FastSS deletion-neighborhood candidate generation (Bocek et
    // al. 2007): index every name under itself PLUS each of its
    // one-character deletions; two strings within edit distance 1
    // ALWAYS share a key (substitutions meet at the same-position
    // deletion, insert/delete meet at the shorter string itself) —
    // the exhaustive-recall guarantee q189's suffix blocking lacks
    // when the edit lands inside the block key. Candidates = one
    // variant-keyed equi-join (postings bounded by key frequency,
    // never all-pairs); verify = row-local levenshtein. Output is
    // the audit histogram: candidate pairs by TRUE edit distance,
    // showing how many same-key collisions the verify step prunes
    // (shared deletions at different positions can be distance 2).
    "q309_fastss_candidates" -> ((s, d) => {
      val names = Tables.customer(s, d)
        .select(col("c_custkey").cast("long").as("id"),
          col("c_name").as("w"))
      // r14 shuffle diet (verdict task 2): the self-join keys on an
      // 8-byte xxhash64 of the deletion variant instead of the raw
      // ~25-byte string, and carries ONLY (id, id2) through the join
      // and both distincts — names re-attach by id AFTER the pair
      // set is deduped, so the wide strings never ride the big
      // shuffle (they spilled 57 GB at 100×, SCALING §13). Recall is
      // untouched: every true dist≤1 pair still shares a key, and
      // hash collisions only ADD candidates — the row-local verify
      // prunes them, because every TRUE shared-deletion pair has
      // levenshtein ≤ 2 (d(w1,w2) ≤ d(w1,v) + d(v,w2) ≤ 2) while a
      // collision pair is a random name pair.
      // the key is (xxhash64(variant), length(variant)) — the 4-byte
      // length rides along as a second independent component (advice
      // finding: a bare 64-bit hash admits a seed-independent
      // engine/oracle divergence if two variants of names with true
      // levenshtein ≤ 2 ever collide; same-hash AND same-length
      // pushes the expected collision count at a 100× corpus from
      // ~1e-5 to ~1e-6 per length class, and the verify step still
      // prunes any survivor that isn't a true dist≤2 pair)
      val vars = names.select(col("id"), col("w"),
          explode(sequence(lit(0), length(col("w")))).as("p"))
        .select(col("id"),
          when(col("p") === 0, col("w"))
            .otherwise(concat(
              expr("substr(w, 1, p - 1)"),
              expr("substr(w, p + 1)"))).as("v"))
        .select(col("id"), xxhash64(col("v")).as("hk"),
          length(col("v")).as("hl"))
        .distinct()
      // pair dedup at an EXPLICIT width (2× the session's shuffle
      // parallelism — AQE honors user-specified repartition counts,
      // where its parallelism-first coalescing was squeezing the
      // dedup into ~cores partitions whose per-task hash maps
      // overflowed into sort-fallback spill at the 100× corpus).
      // The exchange ships raw 16-byte pairs; the dedup then runs
      // post-shuffle on small slices — no map-side aggregate, no
      // oversized hash map, no spill.
      val dedupWidth = 2 * s.conf.get("spark.sql.shuffle.partitions",
        "200").toInt
      // the variant self-join stays a SHUFFLE join (merge hint): the
      // deduped variant side compresses well enough that AQE's
      // size estimate flips it to broadcast at the 100× corpus —
      // building a 25M-entry hashed relation per executor, which is
      // both the memory spike and most of the remaining spill; a
      // sort-merge of 16-byte rows streams instead
      val pairs = vars.hint("merge").join(
          vars.select(col("id").as("id2"), col("hk"), col("hl")),
          Seq("hk", "hl"))
        .filter(col("id") < col("id2"))
        .select(col("id"), col("id2"))
        .repartition(dedupWidth, col("id"), col("id2"))
        .distinct()
      // names re-attach as BROADCAST hash joins: the register is the
      // bounded dimension side (1.5M rows ≈ low hundreds of MB at the
      // 100× corpus), the deduped pair stream the fact side — with a
      // shuffle join here the pair stream sort-merge-sorted ~134M
      // rows TWICE with strings attached, which was the real 50 GB
      // spill at 100× (the variant join itself is only 16-byte rows).
      // At a register too big to broadcast, bucket both sides by id
      // instead — the pair stream still never carries strings.
      val cand = pairs
        .join(broadcast(names), Seq("id"))
        .join(broadcast(names.select(col("id").as("id2"),
          col("w").as("w2"))), Seq("id2"))
      cand.select(levenshtein(col("w"), col("w2")).cast("long")
          .as("edit_dist"))
        .filter(col("edit_dist") <= 2) // collision prune (see above)
        .groupBy(col("edit_dist"))
        .agg(count(lit(1)).as("n_pairs"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q189_fuzzy_link" ->
      """WITH dirty AS (SELECT c_custkey + 1000000 AS did,
        |   substr(c_name, 1, 11) || 'X' || substr(c_name, 13)
        |     AS dname
        |  FROM customer),
        | db AS (SELECT did, dname,
        |   substr(dname, greatest(1, length(dname) - 3), 4) AS bk
        |  FROM dirty),
        | cb AS (SELECT c_custkey AS cid, c_name AS cname,
        |   substr(c_name, greatest(1, length(c_name) - 3), 4) AS bk
        |  FROM customer)
        | SELECT did AS dirty_id, cid AS clean_id,
        |  CAST(levenshtein(dname, cname) AS BIGINT) AS dist
        | FROM db JOIN cb USING (bk)
        | WHERE levenshtein(dname, cname) <= 1""".stripMargin,
    "q291_fellegi_sunter" ->
      """WITH db AS (SELECT c_custkey + 1000000 AS did,
        |   substr(c_name, 1, 11) || 'X' || substr(c_name, 13)
        |    AS dname,
        |   CASE WHEN c_custkey % 3 = 0 THEN c_nationkey + 1
        |    ELSE c_nationkey END AS dnat,
        |   c_mktsegment AS dseg
        |  FROM customer),
        | db2 AS (SELECT *, substr(dname, 16, 3) AS bk FROM db),
        | cb AS (SELECT c_custkey AS cid, c_name AS cname,
        |   c_nationkey AS cnat, c_mktsegment AS cseg,
        |   substr(c_name, 16, 3) AS bk FROM customer),
        | p AS (SELECT did - 1000000 = cid AS mt,
        |   levenshtein(dname, cname) <= 1 AS an,
        |   dnat = cnat AS ana, dseg = cseg AS as_
        |  FROM db2 JOIN cb USING (bk)),
        | a AS (SELECT
        |   sum(CASE WHEN mt THEN 1 ELSE 0 END) AS nm,
        |   sum(CASE WHEN mt THEN 0 ELSE 1 END) AS nu,
        |   sum(CASE WHEN mt AND an THEN 1 ELSE 0 END) AS m1,
        |   sum(CASE WHEN NOT mt AND an THEN 1 ELSE 0 END) AS u1,
        |   sum(CASE WHEN mt AND ana THEN 1 ELSE 0 END) AS m2,
        |   sum(CASE WHEN NOT mt AND ana THEN 1 ELSE 0 END) AS u2,
        |   sum(CASE WHEN mt AND as_ THEN 1 ELSE 0 END) AS m3,
        |   sum(CASE WHEN NOT mt AND as_ THEN 1 ELSE 0 END) AS u3
        |  FROM p),
        | f AS (SELECT 'name_lev1' AS field, m1 AS ma, u1 AS ua,
        |   nm, nu FROM a
        |  UNION ALL SELECT 'nationkey', m2, u2, nm, nu FROM a
        |  UNION ALL SELECT 'mktsegment', m3, u3, nm, nu FROM a)
        | SELECT field, CAST(nm AS BIGINT) AS nm,
        |  CAST(nu AS BIGINT) AS nu,
        |  round(CAST(ma + 1 AS DOUBLE) / CAST(nm + 2 AS DOUBLE), 6)
        |   AS m_prob,
        |  round(CAST(ua + 1 AS DOUBLE) / CAST(nu + 2 AS DOUBLE), 6)
        |   AS u_prob,
        |  round(ln(CAST((ma + 1) * (nu + 2) AS DOUBLE)
        |    / CAST((ua + 1) * (nm + 2) AS DOUBLE)), 6) AS w_agree,
        |  round(ln(CAST((nm - ma + 1) * (nu + 2) AS DOUBLE)
        |    / CAST((nu - ua + 1) * (nm + 2) AS DOUBLE)), 6)
        |   AS w_disagree
        | FROM f""".stripMargin,
    "q309_fastss_candidates" ->
      """WITH names AS (SELECT CAST(c_custkey AS BIGINT) AS id,
        |   c_name AS w FROM customer),
        | vars AS (SELECT DISTINCT id, w,
        |   CASE WHEN p = 0 THEN w
        |   ELSE substr(w, 1, p - 1) || substr(w, p + 1) END AS vk
        |  FROM names,
        |   LATERAL (SELECT unnest(generate_series(0, length(w)))
        |     AS p)),
        | cand AS (SELECT DISTINCT a.id, b.id AS id2, a.w, b.w AS w2
        |  FROM vars a JOIN vars b ON a.vk = b.vk AND a.id < b.id)
        | SELECT CAST(levenshtein(w, w2) AS BIGINT) AS edit_dist,
        |  count(*) AS n_pairs
        | FROM cand WHERE levenshtein(w, w2) <= 2 GROUP BY 1"""
        .stripMargin
  )
}
