"""Generator determinism and a brute-force check of the answer ledger.

Run from the repository root:
    python3 -m unittest discover -s clientbench/tests
"""
import calendar
import datetime
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

TINY = {"clients": 60, "products": 12, "days": 40, "loads": 4, "edges": 800,
        "serve_ops": 60, "export_days": 14, "batch_rows": 120, "batches": 5,
        "bad_every": 10, "writer_ops": 40, "reader_ops": 20,
        "recent_days": 10}


def files_of(seed, workload):
    g = gen.generate(seed, workload, TINY)
    with tempfile.TemporaryDirectory() as d:
        gen.write_inputs(g, d)
        out = {}
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as f:
                out[name] = f.read()
    return out


def parse_edges(text):
    """Rows of an edge CSV as dicts; malformed rows have quantity None."""
    rows = []
    for line in text.splitlines()[1:]:
        o, d, ts, q, p = line.split(",")
        t = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S")
        secs = calendar.timegm(t.timetuple())
        rows.append({"origin": int(o), "destin": int(d),
                     "day": (t.date() - gen.BASE_DATE).days,
                     "stamp": secs * gen.NS,
                     "quantity": int(q) if q.isdigit() else None,
                     "price": int(p), "bytes": len(line) + 1})
    return rows


def parse_clients(text):
    out = {}
    for line in text.splitlines()[1:]:
        cid, name, seg, score = line.split(",")
        out[int(cid)] = (name, seg, float(score))
    return out


def day_of(literal):
    return (datetime.date.fromisoformat(literal) - gen.BASE_DATE).days


def window_of(stmt):
    """(lo, hi, segment or None) of a generated range/export statement."""
    lits = stmt.split("'")[1::2]
    seg = lits[0] if len(lits) == 3 else None
    return day_of(lits[-2]), day_of(lits[-1]), seg


class Determinism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for workload in ("serve", "ingest"):
            a, b = files_of(7, workload), files_of(7, workload)
            self.assertEqual(a.keys(), b.keys())
            for name in a:
                self.assertEqual(a[name], b[name], f"{workload}/{name}")

    def test_other_seed_changes_inputs(self):
        for workload in ("serve", "ingest"):
            a, b = files_of(7, workload), files_of(8, workload)
            for name in ("client.csv", "load_000.csv", "ledger.json"):
                self.assertNotEqual(a[name], b[name], f"{workload}/{name}")
            # the loader's stream is the same LOAD/retention sequence for
            # every seed; its batches are not
            ops = [n for n in a if n.startswith("ops_") and "loader" not in n]
            self.assertTrue(ops)
            for name in ops + (["batch_000.csv"] if workload == "ingest"
                               else []):
                self.assertNotEqual(a[name], b[name], f"{workload}/{name}")

    def test_scope_independent_of_workload(self):
        a, b = files_of(7, "serve"), files_of(7, "ingest")
        for name in ("client.csv", "product.csv", "load_000.csv"):
            self.assertEqual(a[name], b[name])


class Ledger(unittest.TestCase):
    """Every expected answer, recomputed by brute force from the CSVs."""

    @classmethod
    def setUpClass(cls):
        cls.g = gen.generate(3, "serve", TINY)
        cls.clients = parse_clients(cls.g["scope"]["client_csv"])
        cls.edges = [r for text in cls.g["scope"]["load_csvs"]
                     for r in parse_edges(text)]

    def test_loads_hold_every_edge(self):
        self.assertEqual(len(self.edges), self.g["ledger"]["edges"])
        self.assertEqual(len(self.clients), TINY["clients"])

    def test_serve_answers(self):
        kinds = set()
        for stream in self.g["serve"]:
            for kind, _, stmt, expect in stream:
                kinds.add(kind)
                self.assertEqual(expect, self.brute(kind, stmt), stmt)
        self.assertEqual(kinds, {"point", "range", "export"})

    def brute(self, kind, stmt):
        if kind == "point":
            cid = int(stmt.rsplit("=", 1)[1])
            name, seg, score = self.clients[cid]
            return f"{cid}|{name}|{seg}|{score}"
        lo, hi, seg = window_of(stmt)
        rows = [r for r in self.edges if lo <= r["day"] < hi and (
            seg is None or self.clients[r["origin"]][1] == seg)]
        if kind == "range":
            return f"{len(rows)}|{sum(r['price'] for r in rows)}"
        h = sum(gen.row_hash(r["origin"], r["destin"], r["stamp"],
                             r["quantity"], r["price"]) for r in rows)
        return f"{len(rows)}|{h & gen.M64}"

    def test_stream_mix_is_exact_per_cycle(self):
        for stream in self.g["serve"]:
            for start in (0, 20, 40):
                kinds = [op[0] for op in stream[start:start + 20]]
                self.assertEqual((kinds.count("point"), kinds.count("range"),
                                  kinds.count("export")), (12, 7, 1))

    def test_exports_alternate_framings_from_the_client_index(self):
        firsts = set()
        for stream in self.g["serve"]:
            modes = [arg for kind, arg, _, _ in stream if kind == "export"]
            firsts.add(modes[0])
            self.assertTrue(all(a != b for a, b in zip(modes, modes[1:])))
        self.assertEqual(firsts, {"text", "binary"})


class IngestLedger(unittest.TestCase):
    """LOAD reports, reader answers and the final table state for every
    prefix of the loader and writer streams, against a simulation."""

    @classmethod
    def setUpClass(cls):
        cls.g = gen.generate(5, "ingest", TINY)
        cls.clients = parse_clients(cls.g["scope"]["client_csv"])
        cls.base = [r for text in cls.g["scope"]["load_csvs"]
                    for r in parse_edges(text)]

    def test_load_reports(self):
        for kind, arg, _, expect in self.g["loader"]:
            if kind == "load":
                rows = parse_edges(self.g["batches"][int(arg)])
                good = sum(r["quantity"] is not None for r in rows)
                self.assertEqual(expect, f"{good}|{len(rows) - good}")

    def test_readers_only_read_closed_days(self):
        for stream in self.g["readers"]:
            for _, _, stmt, expect in stream:
                lo, hi, seg = window_of(stmt)
                self.assertGreaterEqual(lo, TINY["days"] - TINY["recent_days"])
                self.assertLessEqual(hi, TINY["days"])
                rows = [r for r in self.base if lo <= r["day"] < hi and (
                    seg is None or self.clients[r["origin"]][1] == seg)]
                self.assertEqual(
                    expect, f"{len(rows)}|{sum(r['price'] for r in rows)}")

    def test_readers_scan_only_buys(self):
        # the writer rewrites `client` every few ops; a reader joined to it
        # would span two of its rewrites and lose its snapshot's files
        for stream in self.g["readers"]:
            # both widths, neither joined ("<width>d", "j" marks a join)
            widths = {arg for _, arg, _, _ in stream}
            self.assertEqual({"1d", f"{TINY['recent_days']}d"}, widths)
            for _, _, stmt, _ in stream:
                self.assertNotIn("client", stmt)

    def simulate(self, n_loader, n_writer):
        edges = list(self.base)
        clients = {c: (v[1], v[2], len(f"{c},{v[0]},{v[1]},{v[2]:.2f}\n"))
                   for c, v in self.clients.items()}
        for kind, arg, stmt, _ in self.g["loader"][:n_loader]:
            if kind == "load":
                edges += [r for r in parse_edges(self.g["batches"][int(arg)])
                          if r["quantity"] is not None]
            else:
                cutoff = day_of(stmt.split("'")[1])
                edges = [r for r in edges if r["day"] >= cutoff]
        for kind, _, stmt, _ in self.g["writer"][:n_writer]:
            vals = stmt[stmt.rfind("(") + 1:-1].split(", ")
            if kind == "insert":
                line = ",".join(v.strip("'") for v in vals) + "\n"
                edges += parse_edges(gen.EDGE_HEADER + line)
            elif kind == "vinsert":
                cid, score = int(vals[0]), float(vals[3])
                clients[cid] = ("basic", score,
                                len(f"{cid},w{cid},basic,{score:.2f}\n"))
            elif kind == "update":
                cid = int(stmt.rsplit("=", 1)[1])
                score = float(stmt.split("=")[1].split()[0])
                seg, _, b = clients[cid]
                clients[cid] = (seg, score, b)
            else:
                clients.pop(int(stmt.rsplit("=", 1)[1]), None)
        product_bytes = len(self.g["scope"]["product_csv"]) - len(
            "id,title,category\n")
        return {"buys": len(edges), "clients": len(clients),
                "score_sum": sum(v[1] for v in clients.values()),
                "live_csv_bytes": sum(r["bytes"] for r in edges)
                + sum(v[2] for v in clients.values()) + product_bytes}

    def test_writer_reaches_every_kind_in_four_ops(self):
        kinds = [op[0] for op in self.g["writer"]]
        self.assertEqual(set(kinds[:4]), set(kinds))

    def test_final_state_for_every_prefix(self):
        led = self.g["ledger"]
        for n_loader in range(len(self.g["loader"]) + 1):
            for n_writer in (0, 1, 7, 19, len(self.g["writer"])):
                want = self.simulate(n_loader, n_writer)
                got = gen.ingest_final(led, self.g["loader"][:n_loader],
                                       self.g["writer"][:n_writer])
                for k in want:
                    self.assertAlmostEqual(got[k], want[k], places=6,
                                           msg=f"{k} {n_loader} {n_writer}")


if __name__ == "__main__":
    unittest.main()
