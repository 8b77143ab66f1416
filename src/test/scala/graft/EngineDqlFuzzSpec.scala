package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Engine, Rows}

/** Statement-level differential fuzzing: random SELECTs (projection,
  * WHERE, GROUP BY, HAVING, ORDER BY, LIMIT compositions) run through
  * the FULL NowDB-dialect path (Parser → Engine.buildSelect →
  * Catalyst) and through Spark SQL's own parser on the same data —
  * two independent front-ends, one expected answer. Complements
  * FormulaPropertySpec (expression-level) with clause-composition
  * coverage: alias scoping, HAVING over aliased aggregates, ORDER/
  * LIMIT interaction. Restricted to the subset where dialect
  * semantics equal ANSI (always GROUP BY — nowdb's empty-global-agg
  * conventions differ by design; no int/int division — QUOT differs
  * by design and is covered by q75/FormulaPropertySpec).
  */
class EngineDqlFuzzSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("150 random DQL clause compositions: dialect engine == Spark SQL") {
    val rnd = new scala.util.Random(4242)
    val data = (0 until 400).map { i =>
      (i.toLong % 11, rnd.nextInt(100).toLong,
        math.rint(rnd.nextDouble() * 10000) / 100.0, "s" + (i % 7))
    }
    val df = data.toDF("k", "a", "b", "s")
    val eng = new Engine(spark,
      java.nio.file.Files.createTempDirectory("dql-fuzz").toString)
    eng.attachTable("fz", df)
    df.createOrReplaceTempView("fz_v")

    val aggPool = Seq("sum(a)", "min(b)", "max(a)", "count(*)",
      "sum(b)", "min(a)", "max(b)", "count(a)", "avg(a)",
      "case when count(*) > 3 then 1 else 0 end")
    val wherePool = Seq("a > 50", "b <= 42.5", "s = 's3'",
      "a >= 10 and b < 90.0", "k <> 4", "s in ('s1', 's2', 's5')",
      "not (a < 20)", "b > 10.0 or a > 80")
    val havingPool = Seq("count(*) > 2", "sum(a) >= 100",
      "min(b) < 50.0", "max(a) > 10", "g0 >= 10", "not (g0 < 10)",
      "count(*) > 1 and max(a) >= 50")

    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))

    for (i <- 0 until 150) {
      // nAgg = 0 exercises the group-no-agg distinct fast path, which
      // historically dropped HAVING and ORDER BY
      val nAgg = rnd.nextInt(4)
      val aggs = rnd.shuffle(aggPool).take(nAgg).zipWithIndex
        .map { case (a, j) => s"$a as g$j" }
      // occasionally project an expression of the grouping key too
      val keyExpr = if (rnd.nextInt(4) == 0) Seq("k + 1 as kk") else Nil
      val items = aggs ++ keyExpr
      val where = if (rnd.nextBoolean()) s" where ${pick(wherePool)}" else ""
      val havingChoices =
        if (nAgg == 0) havingPool.filterNot(_.contains("g0"))
        else havingPool
      val having = if (rnd.nextInt(3) == 0)
        s" having ${pick(havingChoices)}"
      else ""
      // ORDER BY keeps LIMIT prefixes deterministic in both engines:
      // either the unique grouping key, or an agg alias with the key
      // as tiebreak
      val tail = rnd.nextInt(5) match {
        case 0 => s" order by k limit ${1 + rnd.nextInt(8)}"
        case 1 => " order by k desc"
        case 2 if nAgg > 0 => s" order by g0 desc, k limit ${1 + rnd.nextInt(8)}"
        case _ => ""
      }
      val selList = ("k" +: items).mkString(", ")
      def q(t: String) =
        s"select $selList from $t$where group by k$having$tail"
      val got = eng.sql(q("fz")) match {
        case Rows(r) => r.collect()
        case other => fail(s"${q("fz")} -> $other")
      }
      val want = spark.sql(q("fz_v")).collect()
      def canon(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[String]] =
        rows.map(_.toSeq.map {
          case d: Double => f"$d%.9f"
          case v => String.valueOf(v)
        }).toSeq.sortBy(_.mkString("|"))
      assert(canon(got) == canon(want),
        s"#$i diverged:\n${q("fz")}\nengine: ${canon(got).take(3)}\n" +
          s"spark:  ${canon(want).take(3)}")
    }
  }

  test("60 random aggregate-wrapping items and HAVINGs: dialect engine == " +
    "Spark SQL") {
    val rnd = new scala.util.Random(6060)
    val data = (0 until 400).map { i =>
      (i.toLong % 11, rnd.nextInt(100).toLong,
        math.rint(rnd.nextDouble() * 10000) / 100.0)
    }
    val df = data.toDF("k", "a", "b")
    val eng = new Engine(spark,
      java.nio.file.Files.createTempDirectory("dql-fuzz-agg").toString)
    eng.attachTable("fa", df)
    df.createOrReplaceTempView("fa_v")
    // (dialect, Spark SQL): toint is a bigint cast and log is ln; every
    // group is non-empty, so the dialect's avg equals ANSI's, and no
    // int/int division appears (QUOT differs by design)
    val itemPool = Seq(
      ("coalesce(sum(a), 0)", "coalesce(sum(a), 0)"),
      ("coalesce(max(b), 0.0)", "coalesce(max(b), 0.0)"),
      ("toint(avg(b))", "cast(avg(b) as bigint)"),
      ("log(sum(b) + 1.0)", "ln(sum(b) + 1.0)"),
      ("abs(min(a) - 50)", "abs(min(a) - 50)"),
      ("abs(sum(a) - 50 * count(*))", "abs(sum(a) - 50 * count(*))"),
      ("case when sum(a) > 1800 then max(b) else min(b) end",
        "case when sum(a) > 1800 then max(b) else min(b) end"),
      ("sum(b) / count(*)", "sum(b) / count(*)"),
      ("max(a) - min(a) + 1", "max(a) - min(a) + 1"),
      ("toint(sum(b)) * 2", "cast(sum(b) as bigint) * 2"),
      ("avg(a) * 2.0", "avg(a) * 2.0"),
      ("round(avg(b), 2)", "round(avg(b), 2)"),
      ("tofloat(count(*)) / 2.0", "cast(count(*) as double) / 2.0"))
    val havingPool = Seq(
      ("coalesce(sum(a), 0) > 1800", "coalesce(sum(a), 0) > 1800"),
      ("abs(max(a) - min(a)) >= 97", "abs(max(a) - min(a)) >= 97"),
      ("toint(avg(b)) > 48", "cast(avg(b) as bigint) > 48"),
      ("log(count(*)) > 3.6", "ln(count(*)) > 3.6"),
      ("case when count(*) > 36 then 1 else 0 end = 1",
        "case when count(*) > 36 then 1 else 0 end = 1"),
      ("count(*) in (max(a) - 60, 36, 37)",
        "count(*) in (max(a) - 60, 36, 37)"),
      ("sum(b) / count(*) < 50.0", "sum(b) / count(*) < 50.0"))
    val wherePool = Seq("", " where a > 20", " where b < 70.0")
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    for (i <- 0 until 60) {
      val items = rnd.shuffle(itemPool).take(1 + rnd.nextInt(3))
        .zipWithIndex.map { case ((d, q), j) => (s"$d as g$j", s"$q as g$j") }
      val having = if (rnd.nextBoolean()) Some(pick(havingPool)) else None
      val where = pick(wherePool)
      def q(t: String, side: ((String, String)) => String) =
        s"select k, ${items.map(side).mkString(", ")} from $t$where " +
          "group by k" + having.fold("")(h => s" having ${side(h)}")
      val dialect = q("fa", _._1)
      val got = eng.sql(dialect) match {
        case Rows(r) => r.collect()
        case other => fail(s"$dialect -> $other")
      }
      val want = spark.sql(q("fa_v", _._2)).collect()
      def canon(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[String]] =
        rows.map(_.toSeq.map {
          case d: Double => f"$d%.9f"
          case v => String.valueOf(v)
        }).toSeq.sortBy(_.mkString("|"))
      assert(canon(got) == canon(want),
        s"#$i diverged:\n$dialect\nengine: ${canon(got).take(3)}\n" +
          s"spark:  ${canon(want).take(3)}")
    }
  }

  test("120 random round-10 surface statements: dialect engine == Spark SQL") {
    // DISTINCT, aggregate-DISTINCT, BETWEEN/LIKE, ordinals, set-op
    // chains, CTEs, window functions, ANSI joins — the identical text
    // runs through Spark SQL's parser, so every superset keyword's
    // SEMANTICS (not just its parse) is differentially checked
    val rnd = new scala.util.Random(1010)
    val data = (0 until 300).map { i =>
      (i.toLong, i.toLong % 8, rnd.nextInt(60).toLong,
        math.rint(rnd.nextDouble() * 1000) / 100.0, "t" + (i % 5))
    }
    val df = data.toDF("id", "k", "a", "b", "s")
    val dim = (0L to 5L).map(k => (k, "nm" + k)).toDF("k", "nm")
    val eng = new Engine(spark,
      java.nio.file.Files.createTempDirectory("dql-fuzz10").toString)
    eng.attachTable("fx", df)
    eng.attachTable("dx", dim)
    df.createOrReplaceTempView("fx_v")
    dim.createOrReplaceTempView("dx_v")
    val wherePool = Seq("", " where a between 10 and 40",
      " where s like 't%' and a > 15", " where a not between 20 and 50",
      " where s not like '_2'", " where b between 100.0 and 800.0")
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def run(qe: String, qs: String, tag: String): Unit = {
      val got = eng.sql(qe) match {
        case Rows(r) => r.collect()
        case other => fail(s"$tag: $qe -> $other")
      }
      val want = spark.sql(qs).collect()
      def canon(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[String]] =
        rows.map(_.toSeq.map {
          case d: Double => f"$d%.9f"
          case v => String.valueOf(v)
        }).toSeq.sortBy(_.mkString("|"))
      assert(canon(got) == canon(want),
        s"$tag diverged:\n$qe\nengine: ${canon(got).take(3)}\n" +
          s"spark:  ${canon(want).take(3)}")
    }
    for (i <- 0 until 120) {
      val w = pick(wherePool)
      val body = rnd.nextInt(7) match {
        case 0 => s"select distinct k, s from fx$w"
        case 1 => s"select k, count(distinct a) as cd, " +
          s"sum(distinct a) as sd, count(*) as n from fx$w " +
          "group by 1 order by 1"
        case 2 => s"select k, sum(a) as sa from fx$w " +
          "group by 1 order by 2 desc, 1"
        case 3 =>
          val all = if (rnd.nextBoolean()) " all" else ""
          val op = pick(Seq("union" + all, "intersect", "except"))
          s"select k from fx where a > ${rnd.nextInt(30)} " +
            s"$op select k from fx where s = 't${rnd.nextInt(5)}'"
        case 4 => s"with c as (select k, a from fx$w) " +
          "select k, count(*) as n, max(a) as ma from c " +
          "group by k order by k"
        case 5 => s"select id, k, row_number() over " +
          "(partition by k order by a, id) as rn, " +
          "sum(a) over (partition by k order by id) as run from fx" + w
        case _ => s"select f.k, count(*) as n, min(nm) as m " +
          s"from fx f join dx d on f.k = d.k$w group by f.k order by f.k"
      }
      run(body,
        body.replace("from fx", "from fx_v").replace("join dx", "join dx_v"),
        s"#$i")
    }
  }

  test("130 random window-frame and set-op chain statements: " +
    "dialect engine == Spark SQL (r13 fuzz arms)") {
    // r12 verdict task 7: the window builder (now with ROWS/RANGE
    // frames) and the set-op alignment path get property fuzz of
    // their own. Identical text runs through Spark SQL's parser, so
    // frame semantics (bounds, shorthand, RANGE peers) and set-op
    // precedence/ALL are differentially checked, not just parsed.
    val rnd = new scala.util.Random(1313)
    val data = (0 until 400).map { i =>
      (i.toLong, i.toLong % 9, rnd.nextInt(80).toLong,
        math.rint(rnd.nextDouble() * 1000) / 100.0, "w" + (i % 6))
    }
    val df = data.toDF("id", "k", "a", "b", "s")
    val eng = new Engine(spark,
      java.nio.file.Files.createTempDirectory("dql-fuzz13").toString)
    eng.attachTable("fw", df)
    df.createOrReplaceTempView("fw_v")
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def canon(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[String]] =
      rows.map(_.toSeq.map {
        case d: Double => f"$d%.9f"
        case v => String.valueOf(v)
      }).toSeq.sortBy(_.mkString("|"))
    for (i <- 0 until 130) {
      val body = rnd.nextInt(2) match {
        case 0 =>
          val fn = pick(Seq("sum(a)", "min(a)", "max(a)", "count(*)",
            "avg(a)"))
          val frame = rnd.nextInt(6) match {
            case 0 => s"rows between ${1 + rnd.nextInt(5)} preceding " +
              "and current row"
            case 1 => s"rows between ${rnd.nextInt(3)} preceding and " +
              s"${rnd.nextInt(3)} following"
            case 2 => "rows between unbounded preceding and current row"
            case 3 => s"range between ${5 * (1 + rnd.nextInt(6))} " +
              s"preceding and ${5 * rnd.nextInt(6)} following"
            case 4 => "rows between current row and unbounded following"
            case _ => "range between unbounded preceding and current row"
          }
          // RANGE frames need a single numeric order key; ROWS get a
          // unique (a, id) order so every frame content is
          // deterministic
          val ord = if (frame.startsWith("range")) "a" else "a, id"
          s"select id, k, $fn over (partition by k order by $ord " +
            s"$frame) as w from fw"
        case _ =>
          def branch() = "select k, a from fw where " + pick(Seq(
            s"a > ${rnd.nextInt(50)}", s"s = 'w${rnd.nextInt(6)}'",
            s"b < ${100 + rnd.nextInt(800)}.0",
            s"id % ${2 + rnd.nextInt(5)} = 0"))
          val op1 = pick(Seq("union", "union all", "intersect",
            "except"))
          val op2 = pick(Seq("union", "union all", "intersect",
            "except"))
          s"${branch()} $op1 ${branch()} $op2 ${branch()}"
      }
      val got = eng.sql(body) match {
        case Rows(r) => r.collect()
        case other => fail(s"#$i: $body -> $other")
      }
      val want = spark.sql(body.replace("from fw", "from fw_v")).collect()
      assert(canon(got) == canon(want),
        s"#$i diverged:\n$body\nengine: ${canon(got).take(3)}\n" +
          s"spark:  ${canon(want).take(3)}")
    }
  }

  test("100 random non-grouped selects: dialect engine == Spark SQL") {
    val rnd = new scala.util.Random(777)
    val data = (0 until 300).map { i =>
      (i.toLong, rnd.nextInt(50).toLong,
        math.rint(rnd.nextDouble() * 1000) / 100.0, "t" + (i % 5))
    }
    val df = data.toDF("id", "a", "b", "s")
    val eng = new Engine(spark,
      java.nio.file.Files.createTempDirectory("dql-fuzz2").toString)
    eng.attachTable("fp", df)
    df.createOrReplaceTempView("fp_v")
    val itemPool = Seq("id", "a", "b", "s", "a + 1 as a1",
      "b * 2.0 as b2", "abs(a - 25) as d25",
      "case when a > 25 then 'hi' else 'lo' end as band")
    val wherePool = Seq("", " where a > 25", " where s = 't2'",
      " where b < 500.0 and a >= 5", " where a in (1, 2, 3, 42)",
      " where not (a <= 10)")
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    for (i <- 0 until 100) {
      val items = rnd.shuffle(itemPool).take(1 + rnd.nextInt(4))
      val where = pick(wherePool)
      // id is a unique key, so ordering by it (projected or not — the
      // not-projected case exercises the sort-before-project branch)
      // keeps LIMIT prefixes deterministic
      val tail = rnd.nextInt(3) match {
        case 0 => s" order by id limit ${1 + rnd.nextInt(10)}"
        case 1 => " order by id desc"
        case _ => ""
      }
      def q(t: String) = s"select ${items.mkString(", ")} from $t$where$tail"
      val got = eng.sql(q("fp")) match {
        case Rows(r) => r.collect()
        case other => fail(s"${q("fp")} -> $other")
      }
      val want = spark.sql(q("fp_v")).collect()
      def canon(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[String]] =
        rows.map(_.toSeq.map {
          case d: Double => f"$d%.9f"
          case v => String.valueOf(v)
        }).toSeq.sortBy(_.mkString("|"))
      assert(canon(got) == canon(want),
        s"#$i diverged:\n${q("fp")}\nengine: ${canon(got).take(3)}\n" +
          s"spark:  ${canon(want).take(3)}")
    }
  }

  test("100 random edge-join compositions: dialect engine == Spark SQL") {
    // The reference's JOIN surface (edge JOIN vtype ON origin|destin,
    // sql.tex:2291-2368) composed with projections, filters, and
    // grouped aggregates — against the explicit ANSI equi-join in
    // Spark SQL. Two distinct vertex types keep column names unique,
    // so unqualified scoping (the dialect's model) is unambiguous in
    // both front-ends.
    val rnd = new scala.util.Random(9001)
    val users = (0 until 40).map(i =>
      (i.toLong, s"u$i", (i % 5).toLong)).toDF("uid", "uname", "ugrp")
    val items = (0 until 30).map(i =>
      (i.toLong, s"it$i", math.rint(rnd.nextDouble() * 5000) / 100.0))
      .toDF("iid", "iname", "price")
    val edges = (0 until 500).map { _ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(30).toLong,
        (1 + rnd.nextInt(9)).toLong,
        math.rint(rnd.nextDouble() * 10000) / 100.0)
    }.toDF("origin", "destin", "qty", "amt")
    val eng = new Engine(spark,
      java.nio.file.Files.createTempDirectory("dql-fuzz3").toString)
    eng.script(
      """create scope fzj;
        | use fzj;
        | create type usr (uid uint pk, uname text, ugrp uint);
        | create type itm (iid uint pk, iname text, price float);
        | create edge buys (origin usr origin, destin itm destin,
        |   qty int, amt float)""".stripMargin)
    eng.attachTable("users_src", users)
    eng.attachTable("items_src", items)
    eng.attachTable("edges_src", edges)
    eng.sql("insert into usr (uid, uname, ugrp) " +
      "select uid, uname, ugrp from users_src")
    eng.sql("insert into itm (iid, iname, price) " +
      "select iid, iname, price from items_src")
    eng.sql("insert into buys (origin, destin, qty, amt) " +
      "select origin, destin, qty, amt from edges_src")
    users.createOrReplaceTempView("usr_v")
    items.createOrReplaceTempView("itm_v")
    edges.createOrReplaceTempView("buys_v")

    val projBoth = Seq("uname", "iname", "qty", "amt", "ugrp", "price")
    val projOrigin = Seq("uname", "ugrp", "qty", "amt", "origin")
    val wherePool = Seq("", " where qty > 5", " where ugrp = 2",
      " where qty >= 3 and qty <= 7", " where uname = 'u7'",
      " where not (qty < 4)")
    val aggPool = Seq("count(*) as n", "sum(qty) as sq",
      "min(qty) as mq", "max(qty) as xq")
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    for (i <- 0 until 100) {
      val bothSides = rnd.nextBoolean()
      val joinDialect =
        if (bothSides) " join usr on origin join itm on destin"
        else " join usr on origin"
      val joinAnsi =
        if (bothSides) " join usr_v on buys_v.origin = usr_v.uid" +
          " join itm_v on buys_v.destin = itm_v.iid"
        else " join usr_v on buys_v.origin = usr_v.uid"
      val where = pick(wherePool) // pool references edge+origin cols only
      val (sel, group) =
        if (rnd.nextInt(3) == 0) { // grouped aggregate over ugrp
          val aggs = rnd.shuffle(aggPool).take(1 + rnd.nextInt(2))
          ((Seq("ugrp") ++ aggs).mkString(", "), " group by ugrp")
        } else {
          val pool = if (bothSides) projBoth else projOrigin
          (rnd.shuffle(pool).take(1 + rnd.nextInt(3)).mkString(", "), "")
        }
      val dq = s"select $sel from buys$joinDialect$where$group"
      val aq = s"select $sel from buys_v$joinAnsi$where$group"
      val got = eng.sql(dq) match {
        case Rows(r) => r.collect()
        case other => fail(s"$dq -> $other")
      }
      val want = spark.sql(aq).collect()
      def canon(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[String]] =
        rows.map(_.toSeq.map {
          case d: Double => f"$d%.9f"
          case v => String.valueOf(v)
        }).toSeq.sortBy(_.mkString("|"))
      assert(canon(got) == canon(want),
        s"#$i diverged:\n$dq\nvs $aq\nengine: ${canon(got).take(3)}\n" +
          s"spark:  ${canon(want).take(3)}")
    }
  }

  test("100 random ALIASED joins with having/order/limit: engine == Spark SQL") {
    // The alias surface the plain join fuzzer doesn't reach: the
    // reference's `alias:table` FROM form (nowdbsql.y:1089) and join
    // aliases (`join usr u on origin`), alias-qualified projections /
    // filters / group keys, plus the HAVING / ORDER BY / LIMIT tails
    // on joined queries. LIMIT only appears on grouped queries where
    // the full ORDER BY key (ugrp) is unique, so prefixes are
    // deterministic in both engines.
    val rnd = new scala.util.Random(31337)
    val users = (0 until 40).map(i =>
      (i.toLong, s"u$i", (i % 5).toLong)).toDF("uid", "uname", "ugrp")
    val items = (0 until 30).map(i =>
      (i.toLong, s"it$i", math.rint(rnd.nextDouble() * 5000) / 100.0))
      .toDF("iid", "iname", "price")
    val edges = (0 until 500).map { _ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(30).toLong,
        (1 + rnd.nextInt(9)).toLong,
        math.rint(rnd.nextDouble() * 10000) / 100.0)
    }.toDF("origin", "destin", "qty", "amt")
    val eng = new Engine(spark,
      java.nio.file.Files.createTempDirectory("dql-fuzz4").toString)
    eng.script(
      """create scope fza;
        | use fza;
        | create type usr (uid uint pk, uname text, ugrp uint);
        | create type itm (iid uint pk, iname text, price float);
        | create edge buys (origin usr origin, destin itm destin,
        |   qty int, amt float)""".stripMargin)
    eng.attachTable("users_src", users)
    eng.attachTable("items_src", items)
    eng.attachTable("edges_src", edges)
    eng.sql("insert into usr (uid, uname, ugrp) " +
      "select uid, uname, ugrp from users_src")
    eng.sql("insert into itm (iid, iname, price) " +
      "select iid, iname, price from items_src")
    eng.sql("insert into buys (origin, destin, qty, amt) " +
      "select origin, destin, qty, amt from edges_src")
    users.createOrReplaceTempView("usr_v")
    items.createOrReplaceTempView("itm_v")
    edges.createOrReplaceTempView("buys_v")

    val projPool = Seq("u.uname", "u.ugrp", "e.qty", "e.amt",
      "i.iname", "i.price")
    val wherePool = Seq("", " where e.qty > 5", " where u.ugrp = 2",
      " where e.qty >= 3 and i.price < 40.0", " where u.uname = 'u7'",
      " where not (e.amt < 30.0)")
    val aggPool = Seq("count(*) as n", "sum(e.qty) as sq",
      "min(i.price) as mp", "max(e.amt) as xa")
    val havingPool = Seq("", " having n > 3", " having u.ugrp >= 1",
      " having n > 1 and u.ugrp <> 3")
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    for (i <- 0 until 100) {
      // dialect FROM: plain alias or the reference's alias:table form
      val fromDialect =
        if (rnd.nextBoolean()) "e:buys" else "buys e"
      val joinDialect = " join usr u on origin join itm i on destin"
      val joinAnsi = " join usr_v u on e.origin = u.uid" +
        " join itm_v i on e.destin = i.iid"
      val where = pick(wherePool)
      val grouped = rnd.nextInt(2) == 0
      val (sel, group, having, tail) =
        if (grouped) {
          val aggs = rnd.shuffle(aggPool).take(1 + rnd.nextInt(2))
          val hv = pick(havingPool
            .filter(h => !h.contains(" n ") || aggs.exists(_.endsWith("as n"))))
          val t = rnd.nextInt(3) match {
            case 0 => s" order by u.ugrp limit ${1 + rnd.nextInt(4)}"
            case 1 => " order by u.ugrp desc"
            case _ => ""
          }
          ((Seq("u.ugrp") ++ aggs).mkString(", "), " group by u.ugrp", hv, t)
        } else {
          val t = if (rnd.nextBoolean()) " order by e.amt desc" else ""
          (rnd.shuffle(projPool).take(1 + rnd.nextInt(3)).mkString(", "),
            "", "", t)
        }
      val dq = s"select $sel from $fromDialect$joinDialect" +
        s"$where$group$having$tail"
      val aq = s"select $sel from buys_v e$joinAnsi$where$group$having$tail"
      val got = eng.sql(dq) match {
        case Rows(r) => r.collect()
        case other => fail(s"$dq -> $other")
      }
      val want = spark.sql(aq).collect()
      def canon(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[String]] =
        rows.map(_.toSeq.map {
          case d: Double => f"$d%.9f"
          case v => String.valueOf(v)
        }).toSeq.sortBy(_.mkString("|"))
      assert(canon(got) == canon(want),
        s"#$i diverged:\n$dq\nvs $aq\nengine: ${canon(got).take(3)}\n" +
          s"spark:  ${canon(want).take(3)}")
    }
  }

  test("subquery NULL semantics: NOT IN follows ANSI three-valued " +
    "logic (r12 guard — uncorrelated and correlated), measured " +
    "against Spark SQL's native answers") {
    val fo = Seq((1L, Option(10L)), (2L, Option(20L)),
      (3L, Option.empty[Long])).toDF("id", "k")
    val fi = Seq(Option(10L), Option.empty[Long]).toDF("w")
    val fi2 = Seq((Option(10L), 1L), (Option.empty[Long], 2L))
      .toDF("k", "x")
    val eng = new Engine(spark,
      java.nio.file.Files.createTempDirectory("dql-nulls").toString)
    eng.attachTable("no", fo); eng.attachTable("ni", fi)
    eng.attachTable("ni2", fi2)
    fo.createOrReplaceTempView("no_v"); fi.createOrReplaceTempView("ni_v")
    fi2.createOrReplaceTempView("ni2_v")
    def ids(r: graft.engine.Result): Seq[Long] = r match {
      case Rows(d) => d.collect().map(_.getLong(0)).toSeq.sorted
      case other => fail(s"$other")
    }
    def sparkIds(q: String): Seq[Long] =
      spark.sql(q).collect().map(_.getLong(0)).toSeq.sorted
    // NOT IN with a NULL in the subquery blanks the whole result
    // (every non-match compares NULL against the NULL item) — the r11
    // anti-join deviation is CLOSED; both engines agree
    assert(ids(eng.sql("select id from no where k not in " +
      "(select w from ni)")).isEmpty)
    assert(sparkIds("select id from no_v where k not in " +
      "(select w from ni_v)").isEmpty)
    // NULL-free inner set: non-matching non-NULL probes survive, the
    // NULL probe (id 3) is dropped — ANSI, and the plan keeps the
    // fast equi anti join
    assert(ids(eng.sql("select id from no where k not in " +
      "(select w from ni where w is not null)")) == Seq(2L))
    assert(sparkIds("select id from no_v where k not in " +
      "(select w from ni_v where w is not null)") == Seq(2L))
    // EMPTY inner set: NOT IN () is TRUE for every row, NULL probes
    // included
    assert(ids(eng.sql("select id from no where k not in " +
      "(select w from ni where w > 1000)")) == Seq(1L, 2L, 3L))
    assert(sparkIds("select id from no_v where k not in " +
      "(select w from ni_v where w > 1000)") == Seq(1L, 2L, 3L))
    // CORRELATED NOT IN with NULLs on both sides: per-row set
    // semantics — id 1's set {10} contains its probe (eliminated),
    // id 2's set {10} has no match and no NULL (kept), and id 3's
    // correlation predicate is NULL so its set is EMPTY — a NULL
    // probe against an empty set is still TRUE (kept)
    assert(ids(eng.sql("select id from no where k not in " +
      "(select w from ni where w is not null and no.k >= 10)"))
      == Seq(2L, 3L))
    assert(sparkIds("select id from no_v where k not in " +
      "(select w from ni_v where w is not null and no_v.k >= 10)")
      == Seq(2L, 3L))
    // correlated NOT IN where the correlated set CONTAINS a NULL item
    // (the nullable k column is the item, x the equi key): id 1's set
    // {10} matches its probe (out), id 2's set {NULL} blanks it (out),
    // id 3's set is empty so even its NULL probe survives
    assert(ids(eng.sql("select id from no where k not in " +
      "(select k from ni2 where ni2.x = no.id)")) == Seq(3L))
    assert(sparkIds("select id from no_v where k not in " +
      "(select k from ni2_v where ni2_v.x = no_v.id)") == Seq(3L))
    // correlated EXISTS on a nullable key: NULL = NULL never matches —
    // identical to ANSI
    assert(ids(eng.sql("select id from no where exists " +
      "(select 1 from ni2 where ni2.k = no.k)")) == Seq(1L))
    // correlated scalar count: empty/NULL-key groups count 0 — ANSI
    val sc = eng.sql("select id, (select count(*) from ni2 " +
      "where ni2.k = no.k) as c from no") match {
      case Rows(d) => d.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      case other => fail(s"$other")
    }
    assert(sc == Seq((1L, 1L), (2L, 0L), (3L, 0L)))
  }

  test("100 random correlated subquery predicates: dialect engine == " +
    "Spark SQL") {
    // EXISTS / NOT EXISTS / correlated [NOT] IN run as IDENTICAL text
    // through both front-ends — Spark SQL plans correlated subqueries
    // natively, so its result is an independent oracle for the
    // desugared semi/anti join. No NULLs in either table, so NOT IN's
    // anti-join semantics coincide with ANSI.
    val rnd = new scala.util.Random(2026)
    val outer = (0 until 240).map { i =>
      (i.toLong, i.toLong % 9, rnd.nextInt(80).toLong, "u" + (i % 6))
    }.toDF("id", "k", "a", "s")
    val innerT = (0 until 120).map { i =>
      (i.toLong, i.toLong % 7, rnd.nextInt(80).toLong)
    }.toDF("rid", "k", "w")
    val eng = new Engine(spark,
      java.nio.file.Files.createTempDirectory("dql-fuzz-corr").toString)
    eng.attachTable("fo", outer)
    eng.attachTable("fi", innerT)
    outer.createOrReplaceTempView("fo_v")
    innerT.createOrReplaceTempView("fi_v")
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    for (i <- 0 until 100) {
      val n1 = rnd.nextInt(80)
      val n2 = rnd.nextInt(80)
      val corrPool = Seq(
        s"fi.k = fo.k and fi.w > $n1",
        s"fi.k = fo.k and w <= $n2",            // unqualified inner
        s"fi.k = fo.k and fi.w > $n1 and fi.w <= ${n1 + 40}",
        "fi.k = fo.k and w = a",                // inner w, outer a
        s"fi.k = fo.k + 1 and fi.w >= $n2")     // expression correlation
      val corr = pick(corrPool)
      val outerW = pick(Seq("", s"a > $n1 and ", s"s = 'u${i % 6}' and "))
      val aggFn = pick(Seq("count(*)", "sum(w)", "min(w)", "max(w)"))
      // 10 arms (0..9) — the earlier bound of 7 silently left the
      // r12 HAVING and enclosing-scalar arms unreachable
      val body = rnd.nextInt(10) match {
        case 0 => s"select id, a from fo where ${outerW}exists " +
          s"(select 1 from fi where $corr)"
        case 1 => s"select id, a from fo where ${outerW}not exists " +
          s"(select 1 from fi where $corr)"
        case 2 => s"select id, a from fo where ${outerW}a in " +
          s"(select w from fi where $corr)"
        case 3 => s"select id, a from fo where ${outerW}a not in " +
          s"(select w from fi where fi.k = fo.k and fi.w > $n1)"
        // correlated scalar-aggregate subqueries: select-item and
        // WHERE-comparison positions (equality correlation only —
        // the desugar's documented shape)
        case 4 => s"select id, a, (select $aggFn from fi " +
          s"where fi.k = fo.k and fi.w > $n1) as sc from fo"
        case 5 => s"select id from fo where ${outerW}a > " +
          s"(select min(w) from fi where fi.k = fo.k)"
        case 6 => s"select id, (select count(*) from fi " +
          s"where fi.k = fo.k and w <= $n2) as c from fo " +
          s"where a > $n1"
        // correlated scalar in HAVING, anchored on the group key (r12)
        case 7 => s"select k, count(*) as n from fo group by k " +
          s"having count(*) > (select count(*) from fi " +
          s"where fi.k = fo.k and fi.w > $n1)"
        // scalar correlated to the directly ENCLOSING subquery (r12):
        // one more CorrScope nesting level
        case 8 =>
          val neg = if (rnd.nextBoolean()) "" else "not "
          s"select id, a from fo where ${outerW}${neg}exists " +
            s"(select 1 from fi where fi.k = fo.k and fi.w + $n2 >= " +
            s"(select max(w) from fi f2 where f2.k = fi.k))"
        // scalar correlated PAST its subquery to the TOP scope (r12):
        // the aggregated frame joins the OUTER side of the semi/anti
        case _ =>
          val neg = if (rnd.nextBoolean()) "" else "not "
          s"select id, a from fo where ${outerW}${neg}exists " +
            s"(select 1 from fi where fi.k = fo.k and fi.w + $n2 >= " +
            s"(select max(w) from fi f2 where f2.k = fo.k))"
      }
      val got = eng.sql(body) match {
        case Rows(r) => r.collect()
        case other => fail(s"#$i: $body -> $other")
      }
      // Spark SQL's native planner resolves outer references ONE
      // level deep only — it cannot run the top-scope arm's text
      // (UNRESOLVED_COLUMN on fo.k two scopes down), so that arm's
      // oracle is the manually-desugared one-level equivalent: the
      // scalar becomes a grouped frame INNER-joined on the outer key
      // (an empty group drops the key — exactly the NULL-comparison
      // blanking of the scalar form)
      val sparkText =
        if (body.contains("f2.k = fo.k"))
          body.replace(
            "exists (select 1 from fi where fi.k = fo.k and ",
            "exists (select 1 from fi, (select k as mk, max(w) " +
              "as mw from fi group by k) m where fi.k = fo.k " +
              "and m.mk = fo.k and ")
            .replace("(select max(w) from fi f2 where f2.k = fo.k)",
              "m.mw")
        else body
      val want = spark.sql(sparkText
        .replace("from fo", "from fo_v").replace("from fi", "from fi_v")
        .replace("fi.k", "fi_v.k").replace("fo.k", "fo_v.k")
        .replace("fi.w", "fi_v.w")).collect()
      def canon(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[String]] =
        rows.map(_.toSeq.map(String.valueOf(_))).toSeq
          .sortBy(_.mkString("|"))
      assert(canon(got) == canon(want),
        s"#$i diverged:\n$body\nengine: ${canon(got).take(3)}\n" +
          s"spark:  ${canon(want).take(3)}")
    }
  }

  test("40 random recursive CTEs: UNION ALL closures == Spark SQL's " +
    "native recursion; UNION-distinct reachability == a Scala BFS " +
    "(r14 — two independent oracles for the fixpoint loop)") {
    val rnd = new scala.util.Random(1414)
    val eng = new Engine(spark,
      java.nio.file.Files.createTempDirectory("rec-fuzz").toString)
    def run(sql: String): Seq[org.apache.spark.sql.Row] =
      eng.sql(sql) match {
        case Rows(df) => df.collect().toSeq
        case other => fail(s"engine failed on [$sql]: $other")
      }
    def canon(rows: Seq[org.apache.spark.sql.Row]): Seq[String] =
      rows.map(_.toSeq.map(String.valueOf(_)).mkString("|")).sorted

    // ── arm 1: UNION ALL ancestor closures over random forests,
    //    engine vs Spark SQL native recursive CTEs (25 cases) ──
    for (i <- 0 until 25) {
      val n = 20 + rnd.nextInt(80)
      val edges = (2 to n).map(k => (k.toLong, (1 + rnd.nextInt(k - 1)).toLong))
      val df = edges.toDF("child", "parent")
      eng.attachTable("rfe", df)
      df.createOrReplaceTempView("rfe_v")
      val cut = 1 + rnd.nextInt(n)
      val agg = Seq(
        "count(*) as c, sum(parent) as s",
        "child, count(*) as c",
        "count(*) as c, min(child) as lo, max(parent) as hi"
      )(rnd.nextInt(3))
      val grp = if (agg.startsWith("child")) " group by child" else ""
      def text(tbl: String) =
        s"with recursive anc as (" +
          s"select child, parent from $tbl where child <= $cut " +
          "union all " +
          s"select a.child, e.parent from anc a join $tbl e " +
          "on e.child = a.parent) " +
          s"select $agg from anc$grp"
      val got = canon(run(text("rfe")))
      val want = canon(spark.sql(text("rfe_v")).collect().toSeq)
      assert(got == want,
        s"closure #$i (n=$n cut=$cut) diverged:\nengine: ${got.take(3)}" +
          s"\nspark:  ${want.take(3)}")
    }

    // ── arm 2: UNION-distinct reachability over random CYCLIC
    //    functional graphs, engine vs a driver-side Scala BFS
    //    (Spark's native recursion rejects UNION) (15 cases) ──
    for (i <- 0 until 15) {
      val n = 8 + rnd.nextInt(16)
      val a1 = 1 + rnd.nextInt(5); val b1 = rnd.nextInt(n)
      val a2 = 1 + rnd.nextInt(5); val b2 = rnd.nextInt(n)
      val edges = (0 until n).flatMap(v => Seq(
        (v.toLong, ((a1 * v + b1) % n).toLong),
        (v.toLong, ((a2 * v + b2) % n).toLong)))
      val df = edges.toDF("src", "dst")
      eng.attachTable("rge", df)
      val start = rnd.nextInt(n)
      val got = canon(run(
        "with recursive reach as (" +
          s"select dst as v from rge where src = $start " +
          "union " +
          "select e.dst as v from reach r join rge e on e.src = r.v) " +
          "select count(*) as c, sum(v) as s from reach"))
      // independent oracle: plain BFS over the edge list
      val adj = edges.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
      val seen = scala.collection.mutable.Set.empty[Long]
      var frontier = adj.getOrElse(start.toLong, Seq.empty).distinct
        .filterNot(seen)
      while (frontier.nonEmpty) {
        seen ++= frontier
        frontier = frontier.flatMap(v => adj.getOrElse(v, Seq.empty))
          .distinct.filterNot(seen)
      }
      val want = Seq(s"${seen.size}|${seen.sum}")
      assert(got == want,
        s"reach #$i (n=$n start=$start a1=$a1 b1=$b1 a2=$a2 b2=$b2) " +
          s"diverged: engine=$got bfs=$want")
    }
  }
}
