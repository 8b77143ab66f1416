package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.engine._

/** End-to-end NoWDB-dialect session: mirrors the reference's pysmoke
  * flow (create scope → schema → insert → query → procs/locks/cursors)
  * against the Spark engine. */
class EngineSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  lazy val root = Files.createTempDirectory("graft-scope").toString
  lazy val eng = new Engine(spark, root, cursorPageSize = 3)

  private def ok(r: Result): Unit = r match {
    case Status(true, _) | Report(_, _) | Rows(_) =>
    case Status(false, m) => fail(s"statement failed: $m")
    case other => fail(s"unexpected $other")
  }
  private def rows(r: Result): Array[org.apache.spark.sql.Row] = r match {
    case Rows(df) => df.collect()
    case other => fail(s"expected rows, got $other")
  }

  test("full DDL + DML + DQL session") {
    ok(eng.sql("create scope retail"))
    ok(eng.sql("use retail"))
    ok(eng.sql("create type client (id uint pk, name text)"))
    ok(eng.sql(
      "create type product (id uint pk, title text, price float)"))
    ok(eng.sql("""create edge buys (
      origin client origin, destin product destin, stamp time stamp,
      quantity int, amount float)"""))
    // reference-style trailing if-not-exists and storage no-op
    ok(eng.sql("create scope retail if not exists"))
    ok(eng.sql("create table sales if not exists"))
    ok(eng.sql("create index idx_buys on buys (origin, stamp)"))

    ok(eng.sql("insert into client (id, name) (1, 'Popeye')"))
    ok(eng.sql("insert into client (id, name) (2, 'Olivia')"))
    // duplicate PK must fail (dml.c:116-168)
    assert(eng.sql("insert into client (id, name) (1, 'Dup')") match {
      case Status(false, m) => m.contains("duplicate"); case _ => false
    })
    ok(eng.sql("insert into product (id, title, price) (100, 'Spinach', 1.99)"))
    ok(eng.sql("insert into product (id, title, price) (101, 'Candy', 2.49)"))
    for (i <- 0 until 4)
      ok(eng.sql(s"insert into buys (origin, destin, stamp, quantity, amount) " +
        s"(1, 100, '2024-01-0${i + 1}T10:00:00', ${i + 1}, ${(i + 1) * 1.99})"))
    ok(eng.sql("insert into buys (origin, destin, stamp, quantity, amount) " +
      "(2, 101, '2024-01-03T11:30:00', 2, 4.98)"))
    // edges never dedup: same row twice is two rows
    ok(eng.sql("insert into buys (origin, destin, stamp, quantity, amount) " +
      "(2, 101, '2024-01-03T11:30:00', 2, 4.98)"))

    val all = rows(eng.sql("select origin, destin, quantity from buys"))
    assert(all.length == 6)

    // time-literal coercion in WHERE (plan.c tryTime)
    val jan3 = rows(eng.sql(
      "select origin, quantity from buys where stamp >= '2024-01-03'"))
    assert(jan3.length == 4)

    // group + aggregates
    val g = rows(eng.sql(
      "select origin, count(*), sum(quantity) from buys group by origin"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(g.toSeq == Seq((1L, 4L, 10L), (2L, 2L, 4L)))

    // expression surface: ^ is power, aliases honored
    val e = rows(eng.sql(
      "select 3*2^2 as v, year('2024-05-06') as y from buys where origin = 1"))
    assert(e(0).getDouble(0) == 12.0)

    // edge join on origin and destin (sql.tex:2291-2368)
    val j = rows(eng.sql(
      """select name, title, quantity from buys
         join client on origin join product on destin
         where quantity = 2""".stripMargin))
    assert(j.length == 3) // Popeye/Spinach qty-2 + Olivia/Candy twice
    assert(j.count(r => r.getString(0) == "Olivia"
      && r.getString(1) == "Candy") == 2)

    // group-by-no-agg = distinct (KRANGE)
    assert(rows(eng.sql(
      "select origin from buys group by origin")).length == 2)

    // ungrouped aggregate over all rows
    val tot = rows(eng.sql("select count(*), avg(quantity) from buys"))(0)
    assert(tot.getLong(0) == 6L)

    // select without FROM
    assert(rows(eng.sql("select 1 + 2"))(0).getLong(0) == 3L)
  }

  test("show / desc") {
    assert(rows(eng.sql("show types")).map(_.getString(0)).toSet ==
      Set("client", "product"))
    assert(rows(eng.sql("show edges")).map(_.getString(0)).toSet ==
      Set("buys"))
    val d = rows(eng.sql("desc buys")).map(_.getString(0)).toSeq
    assert(d == Seq("origin", "destin", "stamp", "quantity", "amount"))
  }

  test("cursors page through results (FETCH/CLOSE)") {
    val df = eng.sql("select origin, destin from buys") match {
      case Rows(d) => d
      case other => fail(s"$other")
    }
    val cur = eng.openCursor(df)
    val b1 = eng.sql(s"fetch $cur")
    val (n1, more1) = b1 match {
      case Batch(rs, _, m) => (rs.length, m)
      case other => fail(s"$other")
    }
    assert(n1 == 3 && more1)
    val b2 = eng.sql(s"fetch $cur")
    assert(b2 match { case Batch(rs, _, false) => rs.length == 3
      case _ => false })
  }

  test("python procedure calls back into its own session (re-entrancy)") {
    // needs a python3 on PATH; skip (don't fail) where there is none
    assume(
      try new ProcessBuilder("python3", "--version").start()
        .waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
      catch { case _: java.io.IOException => false },
      "python3 not available")
    val procDir = Files.createTempDirectory("graft-procs")
    // The proc inherits the invoking session over the bridge socket:
    // it issues SELECTs WITHOUT a `use` — the session's scope (retail,
    // selected by earlier statements in this engine) must already
    // apply, which is the reference's re-entrancy contract
    // (sql/stmt.c:1791-1845).
    val py =
      """import os, socket, sys
        |s = socket.create_connection(
        |    (os.environ["GRAFT_HOST"], int(os.environ["GRAFT_PORT"])))
        |r = s.makefile("r", encoding="utf-8", newline="\n")
        |w = s.makefile("w", encoding="utf-8", newline="\n")
        |assert r.readline().startswith("+ok")
        |def send(stmt):
        |    w.write(stmt + "\n"); w.flush()
        |    head = r.readline().rstrip("\n")
        |    if head.startswith("+batch"):
        |        _, n, more = head.split(" ")
        |        r.readline()  # header
        |        rows = [r.readline().rstrip("\n") for _ in range(int(n))]
        |        return head, rows, more == "1"
        |    return head, [], False
        |head, _, _ = send("select quantity from buys")
        |assert head.startswith("+cursor"), head
        |cur = head.split(" ")[1]
        |total, n, more = 0, 0, True
        |while more:
        |    _, rows, more = send("fetch " + cur)
        |    for line in rows:
        |        total += int(line.split("\t")[0]); n += 1
        |send("quit")
        |print("#total_qty\tn_rows")
        |print(str(total) + "\t" + str(n))
        |""".stripMargin
    Files.writeString(procDir.resolve("statsmod.py"), py)
    spark.conf.set("spark.graft.procPath", procDir.toString)
    // self-contained session (ordering-independent): own scope + rows
    val peng = new Engine(spark,
      Files.createTempDirectory("proc-scope").toString, cursorPageSize = 3)
    try {
      ok(peng.sql("create scope procscope"))
      ok(peng.sql("use procscope"))
      ok(peng.sql("create type v (id uint pk, origin uint)"))
      ok(peng.sql("create edge buys (origin v origin, destin v destin, " +
        "quantity uint)"))
      ok(peng.sql("insert into v (id, origin) (1, 1)"))
      (1 to 7).foreach(i =>
        ok(peng.sql(s"insert into buys (origin, destin, quantity) " +
          s"(1, 1, ${i * 10})")))
      ok(peng.sql("create procedure statsmod.qtystats() language python"))
      peng.sql("exec qtystats()") match {
        case Rows(df) =>
          val r0 = df.collect().head
          assert(r0.getString(0).toLong == (1 to 7).map(_ * 10).sum,
            s"proc total ${r0.getString(0)}")
          assert(r0.getString(1).toInt == 7)
        case other => fail(s"expected Rows, got $other")
      }
    } finally spark.conf.unset("spark.graft.procPath")
  }

  test("locks: create, acquire with timeout, unlock") {
    ok(eng.sql("create lock mylock"))
    ok(eng.sql("lock mylock for writing set timeout = 1000"))
    // a second session cannot acquire it
    val eng2 = new Engine(spark, root)
    ok(eng2.sql("use retail"))
    assert(eng2.sql("lock mylock set timeout = 10") match {
      case Status(false, m) => m.contains("timeout"); case _ => false
    })
    ok(eng.sql("unlock mylock"))
    ok(eng2.sql("lock mylock set timeout = 1000"))
    ok(eng2.sql("unlock mylock"))
  }

  test("procedures: EXEC dispatches to registered callables") {
    ok(eng.sql("create procedure analytics.topbuyer() language lua"))
    eng.registerProcedure("topbuyer", (e, _) =>
      e.sql("select origin, sum(quantity) as q from buys group by origin"))
    val r = rows(eng.sql("exec topbuyer()"))
    assert(r.length == 2)
    assert(rows(eng.sql("show procedures"))(0).getString(0) == "topbuyer")
  }

  test("CSV LOAD with header modes and error reporting") {
    val csv = Files.createTempFile("load", ".csv")
    Files.writeString(csv,
      "id,name\n10,Wimpy\n11,Bluto\nnotanumber,Bad\n12,Swee'Pea\n")
    val rep = eng.sql(s"load '${csv}' into client use header")
    assert(rep match { case Report(3, 1) => true; case other => false })
    val got = rows(eng.sql("select name from client where id >= 10"))
    assert(got.length == 3)
    // reference AS-clause: matching layout accepted, mismatch refused
    val csv2 = Files.createTempFile("load-as", ".csv")
    Files.writeString(csv2, "id,name\n20,Alice\n")
    assert(eng.sql(s"load '${csv2}' into client use header as vertex")
      match { case Report(1, 0) => true; case _ => false })
    eng.sql(s"load '${csv2}' into client use header as edge") match {
      case Status(false, msg) => assert(msg.contains("does not match"))
      case other => fail(s"expected AS-mismatch error, got $other")
    }
  }

  test("reference DDL decorations parse: pk inc, timestamp, storage=") {
    // all three are accepted-and-inert in the reference too
    // (stmt.c:505-507 discards INC; storage placement is physical)
    ok(eng.sql("create type acct2 (id uint pk inc, label text) " +
      "storage = mystore"))
    ok(eng.sql("insert into acct2 (id, label) (1, 'x')"))
    assert(rows(eng.sql("select id from acct2")).length == 1)
    ok(eng.sql("create type ev2 (id uint pk, at time timestamp)"))
    val d = rows(eng.sql("desc ev2"))
    assert(d.exists(r => r.getString(0) == "at" && r.getBoolean(3)))
  }

  test("reference edge/query forms: free role names, dest alias, a:t, timestamp field") {
    // edge roles with free field names (edge_field_decl: `name type
    // ORIGIN|DESTINATION`), queried through the canonical names
    ok(eng.sql("create type city (cid uint pk, cname text)"))
    ok(eng.sql("create edge flight (src city origin, " +
      "dst city destination, at time timestamp, dist int)"))
    ok(eng.sql("insert into flight (origin, destin, stamp, dist) " +
      "(1, 2, '2024-03-01T10:00:00', 500)"))
    // `timestamp` as a field keyword resolves to the stamp column
    val t = rows(eng.sql(
      "select timestamp, dist from flight where timestamp >= " +
        "'2024-03-01'"))
    assert(t.length == 1 && t(0).getLong(1) == 500L)
    // alias:table FROM form + ON destination spelling
    ok(eng.sql("insert into city (cid, cname) (1, 'rome')"))
    ok(eng.sql("insert into city (cid, cname) (2, 'oslo')"))
    val j = rows(eng.sql(
      "select cname, dist from f:flight join city on destination"))
    assert(j.length == 1 && j(0).getString(0) == "oslo")
  }

  test("edge DDL two-token role form parses; mistyped stamp errors") {
    ok(eng.sql("create type pt2 (id uint pk)"))
    // FIXTURES.md:98 form — role carried by the field name alone
    ok(eng.sql("create edge rel2 (origin pt2, destin pt2, weight uint)"))
    val d = rows(eng.sql("desc rel2")).map(_.getString(0)).toSeq
    assert(d == Seq("origin", "destin", "weight"))
    // a stamp declared with a non-time type must fail loudly, not
    // silently create an unstamped edge with a 'stamp' payload column
    eng.sql("create edge bad2 (origin pt2, destin pt2, stamp uint)") match {
      case Status(false, m) => assert(m.contains("stamp must be time/date"))
      case other => fail(s"expected stamp type error, got $other")
    }
  }

  test("INSERT without a field list maps values onto the full model") {
    ok(eng.sql("create type widget (id uint pk, label text, w float)"))
    ok(eng.sql("insert into widget values (1, 'ok', 2.5)"))
    val got = rows(eng.sql("select id, label, w from widget"))
    assert(got.length == 1 && got(0).getLong(0) == 1L &&
      got(0).getString(1) == "ok" && got(0).getDouble(2) == 2.5)
    // wrong arity is a clean error, not a partial row
    assert(eng.sql("insert into widget values (2, 'short')") match {
      case Status(false, m) => m.contains("mismatch")
      case _ => false
    })
  }

  test("JSONL LOAD maps by name, types per row, reports corrupt lines") {
    ok(eng.sql("create type jdoc (id uint pk, name text)"))
    val jl = Files.createTempFile("load", ".jsonl")
    Files.writeString(jl,
      """{"id": 1, "name": "alpha"}
        |{"name": "beta", "id": 2}
        |{"id": "notanumber", "name": "bad"}
        |this line is not json at all
        |{"id": 4, "name": "delta"}
        |""".stripMargin)
    val rep = eng.sql(s"load '${jl}' into jdoc format json")
    assert(rep match { case Report(3, 2) => true; case other => false },
      s"got $rep")
    val got = rows(eng.sql("select id, name from jdoc"))
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, "alpha"), (2L, "beta"), (4L, "delta")))
  }

  test("legacy context insert routes to the named edge") {
    ok(eng.sql("insert into sales (edge, origin, destin, timestamp, quantity, amount) " +
      "('buys', 1, 101, '2024-02-01T00:00:00', 7, 13.93)"))
    val r = rows(eng.sql("select quantity from buys where origin = 1 and destin = 101"))
    assert(r.length == 1 && r(0).getLong(0) == 7L)
  }

  test("INSERT SELECT, ORDER BY DESC, LIMIT, SHOW scopes (supersets)") {
    ok(eng.sql("create type vip (id uint pk, name text)"))
    // vertices whose total quantity ≥ 4, via insert-from-select
    ok(eng.sql("insert into vip (id) select origin from buys " +
      "group by origin"))
    assert(rows(eng.sql("select id from vip")).length == 2)
    // PK-safe: re-running inserts nothing new
    ok(eng.sql("insert into vip (id) select origin from buys group by origin"))
    assert(rows(eng.sql("select id from vip")).length == 2)
    val top = rows(eng.sql(
      "select origin, quantity from buys order by quantity desc limit 2"))
    assert(top.length == 2 && top(0).getLong(1) >= top(1).getLong(1))
    assert(rows(eng.sql("show scopes")).map(_.getString(0))
      .contains("retail"))
  }

  test("HAVING filters aggregated groups (superset)") {
    val g = rows(eng.sql("select origin, sum(quantity) as q from buys " +
      "group by origin having q > 5"))
    assert(g.length == 1 && g(0).getLong(0) == 1L)
    // aggregate NOT in the select list is legal HAVING (fuzz-found):
    // evaluated inside the aggregation, never projected
    val h2 = rows(eng.sql("select origin from buys " +
      "group by origin having sum(quantity) > 5"))
    assert(h2.length == 1 && h2(0).getLong(0) == 1L)
    assert(h2(0).schema.fieldNames.toSeq == Seq("origin"))
    // the group-no-agg distinct fast path must not drop HAVING
    val h3 = rows(eng.sql("select origin from buys " +
      "group by origin having count(*) >= 1"))
    assert(h3.length == 2)
    val h4 = rows(eng.sql("select origin from buys " +
      "group by origin having origin > 1"))
    assert(h4.length == 1 && h4(0).getLong(0) == 2L)
    // ...and must not drop ORDER BY (fuzz-found sibling defect)
    val h5 = rows(eng.sql("select origin from buys " +
      "group by origin order by origin desc"))
    assert(h5.map(_.getLong(0)).toSeq == Seq(2L, 1L))
  }

  test("LIMIT/HAVING right after FROM are clauses, not table aliases") {
    assert(rows(eng.sql("select origin from buys limit 3")).length == 3)
    val h = rows(eng.sql("select origin, sum(quantity) as q from buys " +
      "group by origin having q > 5"))
    assert(h.length == 1)
    // a genuine alias still parses
    assert(rows(eng.sql("select b.origin from buys b limit 2")).length == 2)
  }

  test("int/int division takes the integer quotient (QUOT)") {
    // literals: 7/2 = 3, not 3.5; float operand falls back to double
    val c = rows(eng.sql("select 7/2 as q, 7/2.0 as f, -7/2 as nq"))
    assert(c(0).getLong(0) == 3L)
    assert(c(0).getDouble(1) == 3.5)
    assert(c(0).getLong(2) == -3L) // truncation toward zero, like C
    // typed columns: quantity is int, amount float
    val r = rows(eng.sql(
      "select quantity/2 as qi, amount/2 as af from buys " +
        "where origin = 1 and quantity = 3"))
    assert(r(0).getLong(0) == 1L)
    assert(math.abs(r(0).getDouble(1) - 3 * 1.99 / 2) < 1e-9)
    // aggregates: sum(int)/count is the integer quotient too, while a
    // float aggregate keeps double division
    val parts = rows(eng.sql(
      "select sum(quantity) as s, count(*) as c from buys where origin = 1"))(0)
    val a = rows(eng.sql("select sum(quantity)/count(*) as q, " +
      "sum(amount)/count(*) as f from buys where origin = 1"))
    assert(a(0).getLong(0) == parts.getLong(0) / parts.getLong(1))
    assert(parts.getLong(0) % parts.getLong(1) != 0, // non-trivial quotient
      "fixture should not divide evenly")
    assert(a(0).schema("q").dataType.typeName == "long")
    assert(a(0).schema("f").dataType.typeName == "double")
  }

  test("UPDATE and DELETE rewrite tables in place") {
    ok(eng.sql("create type gadget (id uint pk, price float)"))
    ok(eng.sql("insert into gadget (id, price) (1, 10.0)"))
    ok(eng.sql("insert into gadget (id, price) (2, 20.0)"))
    ok(eng.sql("insert into gadget (id, price) (3, 30.0)"))
    ok(eng.sql("update gadget set price = price * 2 where id >= 2"))
    val p = rows(eng.sql("select id, price from gadget order by id"))
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(p == Seq((1L, 10.0), (2L, 40.0), (3L, 60.0)))
    ok(eng.sql("delete from gadget where price > 50"))
    assert(rows(eng.sql("select id from gadget")).length == 2)
    ok(eng.sql("delete from gadget"))
    assert(rows(eng.sql("select id from gadget")).isEmpty)
  }

  test("MERGE upserts, deletes, and enforces the PK contract") {
    ok(eng.sql("create type inv (id uint pk, qty int, note text)"))
    ok(eng.sql("insert into inv (id, qty, note) (1, 10, 'a')"))
    ok(eng.sql("insert into inv (id, qty, note) (2, 20, 'b')"))
    import spark.implicits._
    eng.attachTable("st",
      Seq((2L, 200L), (3L, 300L)).toDF("sid", "sqty"))
    // upsert: 2 updates, 3 inserts (note stays / nulls)
    ok(eng.sql("merge into inv using st on inv.id = st.sid " +
      "when matched then update set qty = st.sqty " +
      "when not matched then insert (id, qty) values (st.sid, st.sqty)"))
    val got = rows(eng.sql("select id, qty, note from inv order by id"))
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(got == Seq((1L, 10L, "a"), (2L, 200L, "b"), (3L, 300L, null)))
    // matched-delete only
    eng.attachTable("dl", Seq(Tuple1(1L)).toDF("did"))
    ok(eng.sql("merge into inv using dl on inv.id = dl.did " +
      "when matched then delete"))
    assert(rows(eng.sql("select id from inv")).map(_.getLong(0)).toSet
      == Set(2L, 3L))
    // insert-only merge: existing keys are untouched
    eng.attachTable("st2",
      Seq((3L, 999L), (4L, 400L)).toDF("sid", "sqty"))
    ok(eng.sql("merge into inv using st2 on inv.id = st2.sid " +
      "when not matched then insert (id, qty) values (st2.sid, st2.sqty)"))
    val after = rows(eng.sql("select id, qty from inv order by id"))
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after == Seq((2L, 200L), (3L, 300L), (4L, 400L)))
    // ambiguous match → rejected, table unchanged
    eng.attachTable("bad", Seq((2L, 1L), (2L, 2L)).toDF("sid", "sqty"))
    eng.sql("merge into inv using bad on inv.id = bad.sid " +
      "when matched then update set qty = bad.sqty") match {
      case Status(false, m) => assert(m.contains("uniqueness"))
      case other => fail(s"ambiguous merge accepted: $other")
    }
    assert(rows(eng.sql("select qty from inv where id = 2"))(0)
      .getLong(0) == 200L)
    // parse-level contracts
    eng.sql("merge into inv using st on inv.id = st.sid") match {
      case Status(false, m) => assert(m.contains("WHEN"))
      case other => fail(s"clause-less merge accepted: $other")
    }
    eng.sql("merge into inv using st on inv.id = st.sid " +
      "when matched then delete " +
      "when matched then update set qty = 1") match {
      case Status(false, m) => assert(m.toLowerCase.contains("exclusive"))
      case other => fail(s"update+delete merge accepted: $other")
    }
    eng.sql("merge into inv using st on inv.id = st.sid " +
      "when not matched then insert (qty) values (st.sqty)") match {
      case Status(false, m) => assert(m.contains("primary key"))
      case other => fail(s"pk-less insert accepted: $other")
    }
    ok(eng.sql("drop type inv"))
  }

  test("aggregates and time literals compile wherever they appear") {
    ok(eng.sql("create type tw (id uint pk, g int, w float, a int, b int, " +
      "at time)"))
    Seq("(1, 1, 1.5, 1, 2, '2024-01-01T00:00:00')",
      "(2, 1, 2.5, 2, 3, '2024-01-03T00:00:00')",
      "(3, 2, 4.0, 3, 1, '2024-01-01T12:00:00')").foreach(v =>
      ok(eng.sql(s"insert into tw (id, g, w, a, b, at) $v")))
    // an aggregate inside any function, not only round/abs/floor/ceil
    assert(rows(eng.sql("select coalesce(sum(w), 0.0) from tw"))(0)
      .getDouble(0) == 8.0)
    assert(math.abs(rows(eng.sql("select log(sum(w)) from tw"))(0)
      .getDouble(0) - math.log(8.0)) < 1e-12)
    assert(rows(eng.sql("select g, toint(avg(w)) from tw group by g " +
      "order by g")).map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (2L, 4L)))
    // a time literal against an aggregate of a time column
    assert(rows(eng.sql("select g from tw group by g " +
      "having max(at) > '2024-01-02T00:00:00'")).map(_.getLong(0)).toSeq
      == Seq(1L))
    // a HAVING IN list with an aggregate item
    assert(rows(eng.sql("select g from tw group by g " +
      "having sum(a) in (max(b), 10)")).map(_.getLong(0)).toSeq == Seq(1L))
    // MERGE takes time literals in both arms, as INSERT and UPDATE do
    import spark.implicits._
    eng.attachTable("tws", Seq(1L, 9L).toDF("sid"))
    ok(eng.sql("merge into tw using tws on tw.id = tws.sid " +
      "when matched then update set at = '2024-03-01T00:00:00' " +
      "when not matched then insert (id, g, w, a, b, at) " +
      "values (tws.sid, 3, 1.0, 0, 0, '2024-04-01T00:00:00')"))
    def idsAt(t: String): Seq[Long] =
      rows(eng.sql(s"select id from tw where at = '$t'")).map(_.getLong(0))
        .toSeq
    assert(idsAt("2024-03-01T00:00:00") == Seq(1L))
    assert(idsAt("2024-04-01T00:00:00") == Seq(9L))
    // an aggregate in WHERE is still an error
    eng.sql("select g from tw where max(w) > 1") match {
      case Status(false, _) =>
      case other => fail(s"aggregate WHERE accepted: $other")
    }
    ok(eng.sql("drop type tw"))
  }

  test("both scalar-subquery paths read avg over no rows as NULL") {
    ok(eng.sql("create type ta (id uint pk, g int, w float)"))
    Seq((1, 1, 1.0), (2, 1, 3.0), (3, 2, 5.0)).foreach { case (i, g, w) =>
      ok(eng.sql(s"insert into ta (id, g, w) ($i, $g, $w)"))
    }
    val uncorrelated = rows(eng.sql("select id, (select avg(w) from ta " +
      "where w > 1000) as a from ta"))
    assert(uncorrelated.length == 3 && uncorrelated.forall(_.isNullAt(1)))
    val correlated = rows(eng.sql("select id, (select avg(w) from ta t2 " +
      "where t2.g = t.g and t2.w > 1000) as a from ta t"))
    assert(correlated.length == 3 && correlated.forall(_.isNullAt(1)))
    // over rows both read the average
    assert(rows(eng.sql("select (select avg(w) from ta where g = 1) as a " +
      "from ta where id = 1"))(0).getDouble(0) == 2.0)
    // a top-level avg keeps the dialect's 0
    assert(rows(eng.sql("select avg(w) from ta where w > 1000"))(0)
      .getDouble(0) == 0.0)
    ok(eng.sql("drop type ta"))
  }

  test("CREATE VIEW expands logically, persists, and guards its name") {
    ok(eng.sql("create type item (id uint pk, grp uint, price float)"))
    (1L to 6L).foreach(i =>
      ok(eng.sql(s"insert into item (id, grp, price) ($i, ${i % 2}, ${i * 10}.0)")))
    ok(eng.sql("create view pricey as select id, grp, price from item " +
      "where price >= 30"))
    // view in FROM, filters compose with the stored predicate
    assert(rows(eng.sql("select id from pricey where grp = 0 order by id"))
      .map(_.getLong(0)).toSeq == Seq(4L, 6L))
    // view over view, with aggregation in the body
    ok(eng.sql("create view bygrp as " +
      "select grp, count(*) as n, max(price) as mx from pricey group by grp"))
    val g = rows(eng.sql("select grp, n, mx from bygrp order by grp"))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(g == Seq((0L, 2L, 60.0), (1L, 2L, 50.0)))
    // views reflect later writes to the base table (logical, not
    // materialized)
    ok(eng.sql("insert into item (id, grp, price) (7, 1, 70.0)"))
    assert(rows(eng.sql("select n from bygrp where grp = 1"))(0)
      .getLong(0) == 3L)
    // name guards: duplicate view, collision with a table, IF NOT EXISTS
    eng.sql("create view pricey as select id from item") match {
      case Status(false, m) => assert(m.contains("exists"))
      case other => fail(s"duplicate view accepted: $other")
    }
    eng.sql("create view item as select id from item") match {
      case Status(false, m) => assert(m.contains("collides"))
      case other => fail(s"table-shadowing view accepted: $other")
    }
    ok(eng.sql("create view pricey if not exists as select id from item"))
    // a view body that references a missing table is rejected eagerly
    eng.sql("create view broken as select x from nosuch") match {
      case Status(false, _) => ()
      case other => fail(s"dangling view accepted: $other")
    }
    // DML on a view is rejected (views are not tables)
    eng.sql("delete from pricey") match {
      case Status(false, _) => ()
      case other => fail(s"DELETE on a view accepted: $other")
    }
    // SHOW VIEWS + persistence across a fresh engine on the same root
    assert(rows(eng.sql("show views")).map(_.getString(0)).toSet
      == Set("pricey", "bygrp"))
    val eng2 = new Engine(spark, root)
    ok(eng2.sql("use retail"))
    assert(rows(eng2.sql("select grp, n from bygrp where grp = 0"))(0)
      .getLong(1) == 2L)
    ok(eng.sql("drop view bygrp"))
    ok(eng.sql("drop view pricey"))
    eng.sql("drop view pricey") match {
      case Status(false, _) => ()
      case other => fail(s"double drop accepted: $other")
    }
    ok(eng.sql("drop view pricey if exists"))
    ok(eng.sql("drop type item"))
  }

  test("WITH binds CTEs in order, shadows tables, and does not leak") {
    ok(eng.sql("create type pt (id uint pk, v uint)"))
    (1L to 5L).foreach(i =>
      ok(eng.sql(s"insert into pt (id, v) ($i, ${i * i})")))
    // single CTE with aggregation in the body
    val one = rows(eng.sql("with big as (select id, v from pt where v > 4) " +
      "select count(*) as n, sum(v) as sv from big"))(0)
    assert((one.getLong(0), one.getLong(1)) == (3L, 9L + 16L + 25L))
    // chained CTEs: the second reads the first
    val two = rows(eng.sql(
      "with a as (select id, v from pt where id <= 4), " +
      "b as (select v from a where v % 2 = 0) " +
      "select count(*) as n, max(v) as mx from b"))(0)
    assert((two.getLong(0), two.getLong(1)) == (2L, 16L))
    // a CTE shadows a same-named table for the statement only
    val shadowed = rows(eng.sql("with pt as (select id from pt where id = 1) " +
      "select count(*) as n from pt"))(0)
    assert(shadowed.getLong(0) == 1L)
    assert(rows(eng.sql("select count(*) as n from pt"))(0).getLong(0) == 5L)
    // a view may carry a WITH body
    ok(eng.sql("create view vsq as with sq as " +
      "(select v from pt where v >= 9) select count(*) as n from sq"))
    assert(rows(eng.sql("select n from vsq"))(0).getLong(0) == 3L)
    ok(eng.sql("drop view vsq"))
    ok(eng.sql("drop type pt"))
  }

  test("UNION/INTERSECT/EXCEPT chain with standard precedence") {
    ok(eng.sql("create type so (id uint pk, v uint)"))
    (1L to 8L).foreach(i =>
      ok(eng.sql(s"insert into so (id, v) ($i, ${i % 4})")))
    def ids(sql: String): Seq[Long] =
      rows(eng.sql(sql)).map(_.getLong(0)).toSeq.sorted
    // UNION dedups, UNION ALL keeps duplicates
    assert(ids("select v from so where id <= 2 " +
      "union select v from so where id = 5") == Seq(1L, 2L))
    assert(ids("select v from so where id <= 2 " +
      "union all select v from so where id = 5") == Seq(1L, 1L, 2L))
    // INTERSECT and EXCEPT
    assert(ids("select id from so where v = 1 " +
      "intersect select id from so where id > 3") == Seq(5L))
    assert(ids("select id from so where v = 1 " +
      "except select id from so where id > 3") == Seq(1L))
    // precedence: a UNION b INTERSECT c == a UNION (b INTERSECT c)
    assert(ids("select id from so where id = 8 " +
      "union select id from so where v = 1 " +
      "intersect select id from so where id > 3")
      == Seq(5L, 8L))
    // chains work as WITH bodies and as view bodies
    assert(ids("with lo as (select id from so where id <= 3) " +
      "select id from lo except select id from so where v = 2")
      == Seq(1L, 3L))
    ok(eng.sql("create view vset as select id from so where v = 0 " +
      "union select id from so where v = 3"))
    assert(ids("select id from vset") == Seq(3L, 4L, 7L, 8L))
    // arity mismatch is rejected
    eng.sql("select id, v from so union select id from so") match {
      case Status(false, m) => assert(m.contains("columns"))
      case other => fail(s"arity mismatch accepted: $other")
    }
    ok(eng.sql("drop view vset"))
    ok(eng.sql("drop type so"))
  }

  test("SELECT DISTINCT, count/sum(DISTINCT), and LIMIT OFFSET") {
    ok(eng.sql("create type dd (id uint pk, g uint, v uint)"))
    (1L to 9L).foreach(i =>
      ok(eng.sql(s"insert into dd (id, g, v) ($i, ${i % 3}, ${i % 4})")))
    // SELECT DISTINCT dedups the projected rows
    assert(rows(eng.sql("select distinct g from dd order by g"))
      .map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(rows(eng.sql("select distinct g, v from dd")).length ==
      (1L to 9L).map(i => (i % 3, i % 4)).distinct.length)
    // aggregate DISTINCT, grouped and ungrouped
    val u = rows(eng.sql(
      "select count(distinct v) as cd, sum(distinct v) as sd from dd"))(0)
    assert((u.getLong(0), u.getLong(1)) == (4L, 0L + 1L + 2L + 3L))
    val g = rows(eng.sql("select g, count(distinct v) as cd from dd " +
      "group by g order by g")).map(r => (r.getLong(0), r.getLong(1)))
    assert(g.toSeq == Seq(
      (0L, (1L to 9L).filter(_ % 3 == 0).map(_ % 4).distinct.length.toLong),
      (1L, (1L to 9L).filter(_ % 3 == 1).map(_ % 4).distinct.length.toLong),
      (2L, (1L to 9L).filter(_ % 3 == 2).map(_ % 4).distinct.length.toLong)))
    // DISTINCT restricted to count/sum
    eng.sql("select avg(distinct v) as x from dd") match {
      case Status(false, m) => assert(m.contains("DISTINCT"))
      case other => fail(s"avg(distinct) accepted: $other")
    }
    // LIMIT OFFSET pages an ordered scan
    assert(rows(eng.sql("select id from dd order by id limit 3 offset 4"))
      .map(_.getLong(0)).toSeq == Seq(5L, 6L, 7L))
    // ORDER BY a dropped column under DISTINCT is rejected
    eng.sql("select distinct g from dd order by id") match {
      case Status(false, m) => assert(m.contains("DISTINCT"))
      case other => fail(s"distinct+hidden order accepted: $other")
    }
    ok(eng.sql("drop type dd"))
  }

  test("IN (SELECT) plans as semi/anti join; scalar subqueries inline") {
    ok(eng.sql("create type sq (id uint pk, g uint, v uint)"))
    (1L to 8L).foreach(i =>
      ok(eng.sql(s"insert into sq (id, g, v) ($i, ${i % 3}, ${i * 10})")))
    ok(eng.sql("create type pick (k uint pk)"))
    Seq(0L, 2L).foreach(k => ok(eng.sql(s"insert into pick (k) ($k)")))
    // semi join: groups present in pick
    assert(rows(eng.sql("select id from sq where g in " +
      "(select k from pick) order by id")).map(_.getLong(0)).toSeq
      == (1L to 8L).filter(i => Set(0L, 2L)(i % 3)))
    // anti join
    assert(rows(eng.sql("select id from sq where g not in " +
      "(select k from pick) order by id")).map(_.getLong(0)).toSeq
      == (1L to 8L).filter(_ % 3 == 1))
    // IN-select composes with residual predicates
    assert(rows(eng.sql("select id from sq where g in (select k from pick) " +
      "and v >= 50 order by id")).map(_.getLong(0)).toSeq
      == (1L to 8L).filter(i => Set(0L, 2L)(i % 3) && i * 10 >= 50))
    // scalar subquery in projection and WHERE
    val rel = rows(eng.sql("select id, v - (select min(v) from sq) as rel " +
      "from sq where v > (select min(v) from sq) order by id"))
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rel == (2L to 8L).map(i => (i, i * 10 - 10L)))
    // rejection: IN-select under OR, multi-row scalar
    eng.sql("select id from sq where v = 10 or g in (select k from pick)")
      match {
      case Status(false, m) => assert(m.contains("conjunct"))
      case other => fail(s"OR'd IN-select accepted: $other")
    }
    eng.sql("select (select v from sq) as x from sq") match {
      case Status(false, m) => assert(m.contains("rows"))
      case other => fail(s"multi-row scalar accepted: $other")
    }
    ok(eng.sql("drop type sq")); ok(eng.sql("drop type pick"))
  }

  test("BETWEEN, LIKE, and simple CASE desugar correctly") {
    ok(eng.sql("create type bl (id uint pk, nm text, v uint)"))
    ok(eng.sql("insert into bl (id, nm, v) (1, 'alpha', 10)"))
    ok(eng.sql("insert into bl (id, nm, v) (2, 'beta', 20)"))
    ok(eng.sql("insert into bl (id, nm, v) (3, 'gamma', 30)"))
    ok(eng.sql("insert into bl (id, nm, v) (4, 'alto', 40)"))
    assert(rows(eng.sql("select id from bl where v between 20 and 30 " +
      "order by id")).map(_.getLong(0)).toSeq == Seq(2L, 3L))
    assert(rows(eng.sql("select id from bl where v not between 20 and 30 " +
      "order by id")).map(_.getLong(0)).toSeq == Seq(1L, 4L))
    assert(rows(eng.sql("select id from bl where nm like 'al%' " +
      "order by id")).map(_.getLong(0)).toSeq == Seq(1L, 4L))
    assert(rows(eng.sql("select id from bl where nm like '_eta'"))
      .map(_.getLong(0)).toSeq == Seq(2L))
    assert(rows(eng.sql("select id from bl where nm not like 'al%' " +
      "order by id")).map(_.getLong(0)).toSeq == Seq(2L, 3L))
    // simple CASE = searched CASE with equality
    val c = rows(eng.sql("select id, case v when 10 then 'ten' " +
      "when 20 then 'twenty' else 'big' end as lbl from bl order by id"))
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(c == Seq((1L, "ten"), (2L, "twenty"), (3L, "big"), (4L, "big")))
    // LIKE pattern must be a literal
    eng.sql("select id from bl where nm like nm") match {
      case Status(false, m) => assert(m.toLowerCase.contains("like"))
      case other => fail(s"non-literal LIKE accepted: $other")
    }
    ok(eng.sql("drop type bl"))
  }

  test("window functions: ranking, lag/lead, running aggregates") {
    ok(eng.sql("create type wf (id uint pk, g uint, v uint)"))
    // g=0: v 10,30,20 at ids 1,3,5 ; g=1: v 40,20 at ids 2,4
    Seq((1L, 0L, 10L), (2L, 1L, 40L), (3L, 0L, 30L), (4L, 1L, 20L),
      (5L, 0L, 20L)).foreach { case (i, g, v) =>
      ok(eng.sql(s"insert into wf (id, g, v) ($i, $g, $v)"))
    }
    val rn = rows(eng.sql("select id, row_number() " +
      "over (partition by g order by v) as rn from wf order by id"))
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rn == Map(1L -> 1L, 5L -> 2L, 3L -> 3L, 4L -> 1L, 2L -> 2L))
    val lg = rows(eng.sql("select id, lag(v) " +
      "over (partition by g order by id) as pv from wf order by id"))
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(lg == Map(1L -> -1L, 2L -> -1L, 3L -> 10L, 4L -> 40L,
      5L -> 30L))
    // running sum (default frame: unbounded preceding .. current)
    val rs = rows(eng.sql("select id, sum(v) " +
      "over (partition by g order by id) as rsum from wf order by id"))
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rs == Map(1L -> 10L, 2L -> 40L, 3L -> 40L, 4L -> 60L,
      5L -> 60L))
    // rank with ties via dense_rank on duplicated values
    ok(eng.sql("insert into wf (id, g, v) (6, 0, 20)"))
    val dr = rows(eng.sql("select id, dense_rank() " +
      "over (partition by g order by v) as dr from wf " +
      "where g = 0 order by id"))
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dr == Map(1L -> 1L, 3L -> 3L, 5L -> 2L, 6L -> 2L))
    eng.sql("select id, median(v) over (partition by g) as m from wf")
      match {
      case Status(false, m) => assert(m.contains("window"))
      case other => fail(s"unsupported window fn accepted: $other")
    }
    ok(eng.sql("drop type wf"))
  }

  test("ANSI joins: inner/left/full with arbitrary ON; edge-join intact") {
    ok(eng.sql("create type fact (id uint pk, dkey uint, v uint)"))
    ok(eng.sql("create type dim (k uint pk, nm text)"))
    Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L),
      (4L, 10L, 400L)).foreach { case (i, dk, v) =>
      ok(eng.sql(s"insert into fact (id, dkey, v) ($i, $dk, $v)"))
    }
    Seq((10L, "x"), (20L, "y"), (99L, "z")).foreach { case (k, n) =>
      ok(eng.sql(s"insert into dim (k, nm) ($k, '$n')"))
    }
    // inner join with qualified ON
    assert(rows(eng.sql("select fact.id, dim.nm from fact " +
      "join dim on fact.dkey = dim.k order by id"))
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "x"), (2L, "y"), (4L, "x")))
    // left join keeps unmatched facts with NULL dim side
    val lj = rows(eng.sql("select id, nm from fact " +
      "left join dim on fact.dkey = dim.k order by id"))
      .map(r => (r.getLong(0), if (r.isNullAt(1)) "-" else r.getString(1)))
    assert(lj.toSeq == Seq((1L, "x"), (2L, "y"), (3L, "-"), (4L, "x")))
    // full join also surfaces the unmatched dim row
    assert(rows(eng.sql("select id, nm from fact " +
      "full outer join dim on fact.dkey = dim.k")).length == 5)
    // join + aggregation + non-equi residual in ON
    val agg = rows(eng.sql("select nm, count(*) as n, sum(v) as sv " +
      "from fact join dim on fact.dkey = dim.k and fact.v < 400 " +
      "group by nm order by nm"))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(agg == Seq(("x", 1L, 100L), ("y", 1L, 200L)))
    // the reference's edge-join grammar still parses (ON origin)
    ok(eng.sql("create type nd (id uint pk, t text)"))
    ok(eng.sql("create edge lk (origin nd origin, destin nd destin, " +
      "w uint)"))
    ok(eng.sql("insert into nd (id, t) (1, 'a')"))
    ok(eng.sql("insert into nd (id, t) (2, 'b')"))
    ok(eng.sql("insert into lk (origin, destin, w) (1, 2, 7)"))
    assert(rows(eng.sql("select origin, t from lk join nd on origin"))
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a")))
    ok(eng.sql("drop type fact")); ok(eng.sql("drop type dim"))
    ok(eng.sql("drop edge lk")); ok(eng.sql("drop type nd"))
  }

  test("CAST, ORDER BY/GROUP BY ordinals, EXPLAIN on WITH") {
    ok(eng.sql("create type ct (id uint pk, g uint, v float)"))
    (1L to 6L).foreach(i =>
      ok(eng.sql(s"insert into ct (id, g, v) ($i, ${i % 2}, $i.5)")))
    // CAST to int truncates like toint; CAST to text renders
    val cs = rows(eng.sql("select id, cast(v as bigint) as vi, " +
      "cast(id as text) as ids from ct order by id limit 2"))
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(cs == Seq((1L, 1L, "1"), (2L, 2L, "2")))
    // ordinals: group by 1, order by 2 desc
    val g = rows(eng.sql("select g, sum(cast(v as bigint)) as sv " +
      "from ct group by 1 order by 2 desc"))
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(g == Seq((0L, 2L + 4L + 6L), (1L, 1L + 3L + 5L)))
    // EXPLAIN accepts a WITH chain and returns a physical plan
    val ep = rows(eng.sql("explain with a as (select g, v from ct) " +
      "select g, count(*) as n from a group by g"))(0).getString(0)
    assert(ep.contains("HashAggregate"), ep)
    // out-of-range ordinal rejected
    eng.sql("select g from ct order by 4") match {
      case Status(false, m) => assert(m.contains("out of range"))
      case other => fail(s"bad ordinal accepted: $other")
    }
    ok(eng.sql("drop type ct"))
  }

  test("GROUP BY ROLLUP/CUBE: subtotal grids and the counting laws") {
    ok(eng.sql("create type rc (id uint pk, a uint, b uint, v uint)"))
    (1L to 8L).foreach(i => ok(eng.sql(
      s"insert into rc (id, a, b, v) ($i, ${i % 2}, ${i % 4 / 2}, $i)")))
    // rollup(a, b): 4 leaf groups + 2 per-a subtotals + 1 grand = 7
    val ro = rows(eng.sql("select a, b, count(*) as n, sum(v) as sv " +
      "from rc group by rollup(a, b)"))
    assert(ro.length == 7, s"rollup rows: ${ro.length}")
    val grand = ro.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1 && grand(0).getAs[Long]("sv") == 36L)
    // per-a subtotal: b NULL, a present — sums of its leaves
    val perA = ro.filter(r => !r.isNullAt(0) && r.isNullAt(1))
      .map(r => r.getLong(0) -> r.getAs[Long]("sv")).toMap
    assert(perA == Map(0L -> (2L + 4L + 6L + 8L), 1L -> (1L + 3L + 5L + 7L)))
    // cube(a, b): rollup's 7 + 2 per-b margins = 9
    val cu = rows(eng.sql("select a, b, count(*) as n, sum(v) as sv " +
      "from rc group by cube(a, b)"))
    assert(cu.length == 9, s"cube rows: ${cu.length}")
    val perB = cu.filter(r => r.isNullAt(0) && !r.isNullAt(1))
      .map(r => r.getLong(1) -> r.getAs[Long]("sv")).toMap
    // b = (i%4) div 2: b=0 ← {1,4,5,8}, b=1 ← {2,3,6,7} — 18 each
    assert(perB == Map(0L -> (1L + 4L + 5L + 8L), 1L -> (2L + 3L + 6L + 7L)))
    // HAVING filters subtotal rows like any aggregate row
    val hv = rows(eng.sql("select a, b, sum(v) as sv from rc " +
      "group by rollup(a, b) having sum(v) >= 36"))
    assert(hv.length == 1 && hv(0).getAs[Long]("sv") == 36L)
    // GROUPING() distinguishes subtotal NULLs from data NULLs
    val gr = rows(eng.sql("select a, grouping(a) as ga, " +
      "grouping(b) as gb, sum(v) as sv from rc group by rollup(a, b)"))
    assert(gr.count(r => r.getAs[Long]("ga") == 1L &&
      r.getAs[Long]("gb") == 1L) == 1) // exactly the grand total
    assert(gr.count(r => r.getAs[Long]("ga") == 0L &&
      r.getAs[Long]("gb") == 1L) == 2) // the two per-a subtotals
    // ROLLUP with NO aggregate select items: still the subtotal grid
    // (hidden count injected and dropped), not a crash
    val noAgg = rows(eng.sql("select a, b from rc group by rollup(a, b)"))
    assert(noAgg.length == 7, s"no-agg rollup rows: ${noAgg.length}")
    assert(noAgg.head.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(noAgg.count(r => r.isNullAt(0) && r.isNullAt(1)) == 1)
    // grouping() without ROLLUP/CUBE: clean Status, not an uncaught
    // AnalysisException
    eng.sql("select a, grouping(a) as ga from rc group by a") match {
      case Status(false, _) => ()
      case other => fail(s"plain-group grouping() accepted: $other")
    }
    ok(eng.sql("drop type rc"))
  }

  test("correlated subqueries: EXISTS / NOT EXISTS / IN desugar to " +
    "semi/anti joins with standard scoping") {
    ok(eng.sql("create type co (id uint pk, g uint, v uint)"))
    ok(eng.sql("create type cq (id uint pk, g uint, w uint)"))
    // co: (1,0,10) (2,1,20) (3,2,30) (4,0,40)
    Seq((1, 0, 10), (2, 1, 20), (3, 2, 30), (4, 0, 40)).foreach {
      case (i, g, v) =>
        ok(eng.sql(s"insert into cq (id, g, w) ($i, ${g + 1}, ${v * 2})"))
        ok(eng.sql(s"insert into co (id, g, v) ($i, $g, $v)"))
    }
    // cq: (1,1,20) (2,2,40) (3,3,60) (4,1,80)
    def ids(r: engine.Result): Seq[Long] = r match {
      case engine.Rows(d) => d.collect().map(_.getLong(0)).toSeq.sorted
      case other => fail(s"$other")
    }
    // correlated EXISTS: co.g matched by some cq.g
    assert(ids(eng.sql("select id from co where exists " +
      "(select 1 from cq where cq.g = co.g)")) == Seq(2L, 3L))
    // unqualified inner column resolves inner-first (g = cq.g here)
    assert(ids(eng.sql("select id from co where exists " +
      "(select 1 from cq where g = co.g and w > 40)")) == Seq(2L))
    // NOT EXISTS = anti join on the same correlation
    assert(ids(eng.sql("select id from co where not exists " +
      "(select 1 from cq where cq.g = co.g)")) == Seq(1L, 4L))
    // correlated IN: probe column + correlation conjunct
    assert(ids(eng.sql("select id from co where v in " +
      "(select w / 2 from cq where cq.g = co.g + 1)"))
      == Seq(1L, 2L, 3L, 4L))
    // correlated NOT IN (anti-join semantics)
    assert(ids(eng.sql("select id from co where v not in " +
      "(select w / 2 from cq where cq.g = co.g + 1)")) == Seq())
    // composes with an ordinary WHERE conjunct
    assert(ids(eng.sql("select id from co where v >= 30 and exists " +
      "(select 1 from cq where cq.g = co.g)")) == Seq(3L))
    // the desugared plan is ONE semi join, not a per-row re-execution
    eng.sql("select id from co where exists " +
      "(select 1 from cq where cq.g = co.g)") match {
      case engine.Rows(d) =>
        val plan = d.queryExecution.executedPlan.toString()
        assert(plan.contains("LeftSemi"), plan)
      case other => fail(s"$other")
    }
    // shape guard: aggregated correlated subquery rejected cleanly
    // (r13 narrowed the message — GROUP BY is named, since joins are
    // now legal in correlated subqueries)
    eng.sql("select id from co where exists " +
      "(select g from cq where cq.g = co.g group by g)") match {
      case Status(false, m) => assert(m.contains("GROUP BY"), m)
      case other => fail(s"aggregated correlated sub accepted: $other")
    }
    ok(eng.sql("drop type co"))
    ok(eng.sql("drop type cq"))
  }

  test("correlated scalar-aggregate subqueries desugar to aggregated " +
    "left joins") {
    ok(eng.sql("create type sg (id uint pk, g uint, v uint)"))
    ok(eng.sql("create type sh (id uint pk, g uint, w uint)"))
    Seq((1, 0, 10), (2, 1, 20), (3, 2, 30), (4, 0, 40)).foreach {
      case (i, g, v) => ok(eng.sql(s"insert into sg (id, g, v) ($i, $g, $v)"))
    }
    Seq((1, 1, 5), (2, 1, 7), (3, 2, 100), (4, 3, 9)).foreach {
      case (i, g, w) => ok(eng.sql(s"insert into sh (id, g, w) ($i, $g, $w)"))
    }
    // count in a select item: empty groups coalesce to 0
    val cnt = rows(eng.sql("select id, (select count(*) from sh " +
      "where sh.g = sg.g) as n from sg"))
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(cnt == Seq((1L, 0L), (2L, 2L), (3L, 1L), (4L, 0L)))
    // max in a WHERE comparison: no-group NULL compares to false
    assert(rows(eng.sql("select id from sg where v > " +
      "(select max(w) from sh where sh.g = sg.g)"))
      .map(_.getLong(0)).toSeq == Seq(2L))
    // expression correlation + sum
    val sums = rows(eng.sql("select id, (select sum(w) from sh " +
      "where sh.g = sg.g + 1) as sw from sg"))
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(sums == Seq((1L, 12L), (2L, 100L), (3L, 9L), (4L, 12L)))
    // avg + a local conjunct in the subquery
    val av = rows(eng.sql("select id, (select avg(w) from sh " +
      "where sh.g = sg.g and w < 100) as aw from sg where id = 2"))(0)
    assert(av.getDouble(1) == 6.0)
    // the desugared plan is an aggregated LEFT join, not per-row
    eng.sql("select id, (select count(*) from sh where sh.g = sg.g) " +
      "as n from sg") match {
      case Rows(d) =>
        val plan = d.queryExecution.executedPlan.toString()
        assert(plan.contains("LeftOuter") &&
          plan.contains("HashAggregate"), plan)
      case other => fail(s"$other")
    }
    // non-aggregate correlated scalar rejected cleanly
    eng.sql("select id, (select w from sh where sh.g = sg.g) from sg")
      match {
      case Status(false, m) => assert(m.contains("aggregate"), m)
      case other => fail(s"non-agg correlated scalar accepted: $other")
    }
    // SELECT * must NOT leak the hidden __graft_k*/__graft_v columns
    // of the desugared scalar join (review finding)
    rows(eng.sql("select * from sg where " +
      "(select count(*) from sh where sh.g = sg.g) > 0")) match {
      case rs =>
        assert(rs.nonEmpty)
        assert(rs.head.schema.fieldNames.toSeq == Seq("id", "g", "v"),
          rs.head.schema.fieldNames.mkString(","))
    }
    // an UNcorrelated IN subquery with its OWN ANSI join and an
    // unqualified reference to a joined-table column must keep riding
    // the uncorrelated path, not be misread as correlated (review
    // finding): w is sh's column, v comes from the joined sg2
    assert(rows(eng.sql("select id from sg where v in " +
      "(select s2.v from sh h join sg s2 on h.g = s2.g + 1 " +
      "where w > 4)")).map(_.getLong(0)).toSeq.sorted
      == Seq(1L, 2L, 3L, 4L))
    // correlated scalar in HAVING (r12): desugars like the select-item
    // form; the joined value re-enters the aggregation as min() of a
    // per-group constant. g=0 has no sh rows → avg is NULL → the
    // comparison is NULL → filtered (ANSI); g=1: 20 > 6 kept;
    // g=2: 30 > 100 dropped.
    val hv = rows(eng.sql("select g, sum(v) as sv from sg group by g " +
      "having sum(v) > (select avg(w) from sh where sh.g = sg.g)"))
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hv == Seq((1L, 20L)))
    // ...and the correlation anchor must be a GROUP BY column
    eng.sql("select g, sum(v) as sv from sg group by g having " +
      "sum(v) > (select avg(w) from sh where sh.g = sg.id)") match {
      case Status(false, m) => assert(m.contains("GROUP BY"), m)
      case other => fail(s"non-key HAVING correlation: $other")
    }
    // a scalar correlated to the directly ENCLOSING subquery (r12):
    // one more CorrScope level — the scalar's aggregated frame
    // left-joins onto the EXISTS subquery's inner scan. Per sg row:
    // does any same-g sh row carry w*2 above that g's max(w)?
    // g=0 empty → no; g=1 max 7, 5*2>7 → yes (id 2); g=2 max 100,
    // 200>100 → yes (id 3).
    assert(rows(eng.sql("select id from sg where exists " +
      "(select 1 from sh where sh.g = sg.g and sh.w * 2 > " +
      "(select max(w) from sh h2 where h2.g = sh.g))"))
      .map(_.getLong(0)).toSeq.sorted == Seq(2L, 3L))
    // a scalar correlated PAST the enclosing subquery to the TOP
    // scope (r12, the last named correlated-scalar limitation): its
    // aggregated frame joins onto the OUTER side of the semi join.
    // Per sg row S = max(w | sh.g = sg.id): id=3 (g=2) has S =
    // max(w | g=3) = 9 and an sh g=2 row w=100 > 9 → kept; id=1
    // (g=0, no sh rows) and id=2 (S=100, ws 5/7) → dropped; id=4
    // has S NULL (no g=4 rows) AND no g=0 sh rows → dropped.
    assert(rows(eng.sql("select id from sg where exists " +
      "(select 1 from sh where sh.g = sg.g and sh.w > " +
      "(select max(w) from sh h2 where h2.g = sg.id))"))
      .map(_.getLong(0)).toSeq.sorted == Seq(3L))
    // ...the hidden outer-joined scalar columns never leak: the
    // semi-joined SELECT * keeps exactly sg's schema
    rows(eng.sql("select * from sg where exists (select 1 from sh " +
      "where sh.g = sg.g and sh.w > (select max(w) from sh h2 " +
      "where h2.g = sg.id))")) match {
      case rs =>
        assert(rs.nonEmpty)
        assert(rs.head.schema.fieldNames.toSeq == Seq("id", "g", "v"),
          rs.head.schema.fieldNames.mkString(","))
    }
    // ...an EMPTY outer-keyed scalar group leaves the comparison
    // NULL, which blanks the EXISTS row (ANSI): shifting the key off
    // every sh.g empties all groups → no row survives
    assert(rows(eng.sql("select id from sg where exists " +
      "(select 1 from sh where sh.g = sg.g and sh.w > " +
      "(select max(w) from sh h2 where h2.g = sg.id + 10))")).isEmpty)
    // ...NOT EXISTS (anti with the outer-joined scalar) is the exact
    // complement of the EXISTS leg
    assert(rows(eng.sql("select id from sg where not exists " +
      "(select 1 from sh where sh.g = sg.g and sh.w > " +
      "(select max(w) from sh h2 where h2.g = sg.id))"))
      .map(_.getLong(0)).toSeq.sorted == Seq(1L, 2L, 4L))
    // a TOP-LEVEL desugared scalar (alias __graft_sc0 on the outer
    // frame) combined with a NESTED one inside the EXISTS whose
    // conjunct also references the outer scope (v): the nested join
    // uses the __graft_nsc prefix, so the two frames can never
    // collide in the semi-join condition (review finding — a shared
    // prefix was AMBIGUOUS_REFERENCE). T(g)=max(w|g): row2 (g=1,v=20)
    // passes 20>7 and its EXISTS holds (5+20>7); rows 1/4 blank on
    // the NULL top scalar; row3 fails 30>100.
    assert(rows(eng.sql("select id from sg where v > " +
      "(select max(w) from sh h3 where h3.g = sg.g) and exists " +
      "(select 1 from sh where sh.g = sg.g and sh.w + v > " +
      "(select max(w) from sh h2 where h2.g = sh.g))"))
      .map(_.getLong(0)).toSeq.sorted == Seq(2L))
    // correlating past the TOP scope is impossible to express here,
    // but MIXING scopes in one scalar still rejects precisely
    eng.sql("select id from sg where exists (select 1 from sh " +
      "where sh.g = sg.g and sh.w > (select max(w) from sh h2 " +
      "where h2.g = sg.id and h2.id = sh.id))") match {
      case Status(false, m) =>
        assert(m.contains("scope") || m.contains("standalone") ||
          m.contains("mix"), m)
      case other => fail(s"mixed-scope scalar accepted: $other")
    }
    // a bare literal beside an ungrouped aggregate stays CONSTANT on
    // empty input (ANSI; was NULL through any_value before r12) —
    // the q374 'tag' + count(*) over a blanked NOT IN relies on it
    val tagRow = rows(eng.sql(
      "select 'tag' as t, count(*) as n from sg where id > 999"))(0)
    assert(tagRow.getString(0) == "tag" && tagRow.getLong(1) == 0L)
    ok(eng.sql("drop type sg"))
    ok(eng.sql("drop type sh"))
  }

  test("multi-row INSERT VALUES applies row-at-a-time with PK stop") {
    ok(eng.sql("create type mr (id uint pk, v uint)"))
    ok(eng.sql("insert into mr (id, v) values (1, 10), (2, 20), (3, 30)"))
    assert(rows(eng.sql("select id from mr")).length == 3)
    // duplicate PK mid-list: rows before it land, rows after don't
    eng.sql("insert into mr (id, v) values (4, 40), (1, 99), (5, 50)")
      match {
      case Status(false, _) => ()
      case other => fail(s"dup PK in multi-row accepted: $other")
    }
    val got = rows(eng.sql("select id, v from mr order by id"))
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    ok(eng.sql("drop type mr"))
  }

  test("stamped edges store date-partitioned; stamp ranges prune") {
    // ISO literals and the same bounds as ns stamps
    Seq("'2024-01-03' and stamp < '2024-01-05'",
      "1704240000000000000 and stamp < 1704412800000000000").foreach { b =>
      val df = eng.sql("select origin, quantity from buys " +
        s"where stamp >= $b") match {
        case Rows(d) => d
        case other => fail(s"$other")
      }
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("PartitionFilters") && plan.contains("stamp_date")
        && plan.contains("isnotnull(stamp_date"), plan)
      assert(df.count() == 4) // Jan 3 ×3 + Jan 4 ×1
    }
  }

  test("CREATE INDEX reorganizes data; EXPLAIN returns the plan") {
    // index on a populated table → range-repartition + sort rewrite
    ok(eng.sql("create index idx_prod_price on product (price)"))
    val after = rows(eng.sql("select id, title from product"))
    assert(after.length == 2) // data intact after reorganization
    val pl = rows(eng.sql(
      "explain select id from product where price > 2.0"))
    assert(pl.length == 1 && pl(0).getString(0).contains("FileScan"), pl)
  }

  test("built-in pipeline procs run over attached tables via EXEC") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "an unrelated piece of text about columnar query engines")
    ).toDF("doc_id", "text")
    eng.attachTable("pdocs", docs)
    val exact = rows(eng.sql("exec dedup_exact('pdocs', 'doc_id', 'text')"))
    assert(exact.length == 2) // docs 1,2 collapse
    val near = rows(eng.sql("exec dedup_near('pdocs', 'doc_id', 'text', 0.5)"))
    assert(near.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val spans = rows(eng.sql("exec dup_spans('pdocs', 'doc_id', 'text', 8)"))
    // the duplicated 10-word doc yields one full span in each copy
    assert(spans.map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(rows(eng.sql("exec quality('pdocs', 'doc_id', 'text')"))
      .length == 3)
    val vecs = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    eng.attachTable("pvecs", vecs)
    val ann = rows(eng.sql("exec ann_topk('pvecs', 'vec_id', 'embedding', 0, 1)"))
    assert(ann.length == 1 && ann(0).getLong(1) == 1L) // nearest ≠ self
    // wrong arity → a usable signature message, not a raw JVM trace
    eng.sql("exec dedup_near('pdocs', 'doc_id', 'text')") match {
      case graft.engine.Status(ok, msg) =>
        assert(!ok && msg.contains("dedup_near(table, idCol, textCol, tau)"))
      case other => fail(s"expected arity error status, got $other")
    }
    // clusters + min-id survivor labels over the same corpus
    val cl = rows(eng.sql(
      "exec dedup_clusters('pdocs', 'doc_id', 'text', 0.5)"))
    assert(cl.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (2L, 1L)))
    // transitive decontamination: seed hits doc 2 → its whole
    // cluster (1 and 2) is flagged, the unrelated doc 3 is not
    val seeds = Seq(Tuple1(2L)).toDF("sid")
    eng.attachTable("pseeds", seeds)
    val deco = rows(eng.sql("exec decontaminate('pdocs', 'doc_id', " +
      "'text', 0.5, 'pseeds', 'sid')"))
    assert(deco.map(_.getLong(0)).toSet == Set(1L, 2L))
    // deterministic hash-order sample: same ids every run
    val s1 = rows(eng.sql("exec sample_topk('pdocs', 'doc_id', 2)"))
      .map(_.getLong(0))
    val s2 = rows(eng.sql("exec sample_topk('pdocs', 'doc_id', 2)"))
      .map(_.getLong(0))
    assert(s1.length == 2 && s1.sameElements(s2))
  }

  test("EXEC'd dedup operators leave no entry in Spark's CacheManager") {
    // a long-lived server runs each distinct EXEC once: its result may
    // not stay cached for the session's lifetime once it is dropped
    import spark.implicits._
    eng.attachTable("pdocs", Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "an unrelated piece of text about columnar query engines")
    ).toDF("doc_id", "text"))
    spark.catalog.clearCache()
    Seq("0.5", "0.6", "0.7").foreach { tau =>
      val near = rows(eng.sql(
        s"exec dedup_near('pdocs', 'doc_id', 'text', $tau)"))
      assert(near.map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 2L)))
    }
    assert(rows(eng.sql(
      "exec dedup_clusters('pdocs', 'doc_id', 'text', 0.5)")).length == 2)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a dedup EXEC left its result in the CacheManager")
  }

  test("drop and if-exists behavior") {
    ok(eng.sql("drop index idx_buys"))
    assert(eng.sql("drop index idx_buys") match {
      case Status(false, _) => true; case _ => false })
    ok(eng.sql("drop index idx_buys if exists"))
  }
}
