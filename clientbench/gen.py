"""Seeded input generator and answer ledger for the client-to-rows benchmark.

Everything the engine sees is made here from one seed: the CSV files the
set-up and the `ingest` loader LOAD, the per-client op streams, and the
ledger of expected answers. The same seed gives byte-identical files.

The retail scope:

    client  (id uint pk, name text, segment text, score float)
    product (id uint pk, title text, category text)
    buys    (origin client, destin product, stamp time, quantity int,
             price int)        -- price in cents, so sums are exact

`buys` covers `days` UTC days from BASE_DATE and is grown by `loads`
chronological CSV LOADs (load i holds the rows of its block of days).
"""
import bisect
import datetime
import json
import os
import random

BASE_DATE = datetime.date(2025, 1, 1)
BASE_EPOCH = 1735689600  # BASE_DATE 00:00:00 UTC, seconds
NS = 1_000_000_000
M64 = (1 << 64) - 1
SEGMENTS = ("gold", "silver", "bronze", "basic")
CATEGORIES = ("food", "drink", "home", "toys", "books", "garden", "tools",
              "music")

SCALES = {
    # set-up scope of both wire workloads
    "clients": 5000,
    "products": 1000,
    "days": 90,
    "loads": 3,
    "edges": 50000,
    # op streams (long enough that no run exhausts them)
    "serve_clients": 4,
    "serve_ops": 2000,
    "export_days": 63,      # an export pages about 35k rows
    # ingest traffic
    "batch_rows": 25000,
    "batches": 10,
    "bad_every": 100,       # one malformed row in this many
    # retention DELETE after every Nth batch: two rewrites of `buys` stay
    # about 15 s apart, over twice a reader's range (see ingest_traffic)
    "retention_every": 3,
    "writer_ops": 2000,
    "readers": 2,
    "reader_ops": 1000,
    "recent_days": 30,      # readers scan the last 30 closed days
}


def mix64(z):
    """splitmix64 finalizer; clientbench.Check.mix64 is the same."""
    z = (z + 0x9E3779B97F4A7C15) & M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & M64
    return z ^ (z >> 31)


def row_hash(origin, destin, stamp_ns, quantity, price):
    """Order-independent export checksum term of one buys row."""
    k = origin
    for v in (destin, stamp_ns, quantity, price):
        k = (k * 1000003 + v) & M64
    return mix64(k)


def day_str(day):
    return (BASE_DATE + datetime.timedelta(days=day)).isoformat()


_DAY_STR = [day_str(d) for d in range(400)]


class Zipf:
    """Zipf(s) draw over ranks 1..n mapped through a seeded permutation."""

    def __init__(self, n, s, rng):
        acc, cdf = 0.0, []
        for r in range(1, n + 1):
            acc += 1.0 / r ** s
            cdf.append(acc)
        self.cdf = [c / acc for c in cdf]
        self.keys = list(range(1, n + 1))
        rng.shuffle(self.keys)

    def draw(self, rng):
        i = bisect.bisect_left(self.cdf, rng.random())
        return self.keys[min(i, len(self.keys) - 1)]


class DayStats:
    """Per-day aggregates of buys rows: what range and export answers
    and the retention ledger are computed from."""

    def __init__(self):
        self.count = {}
        self.price = {}
        self.checksum = {}
        self.csv_bytes = {}
        self.seg_count = {}
        self.seg_price = {}

    def add(self, day, seg, origin, destin, stamp_ns, q, p, line_bytes):
        self.count[day] = self.count.get(day, 0) + 1
        self.price[day] = self.price.get(day, 0) + p
        self.checksum[day] = (self.checksum.get(day, 0)
                              + row_hash(origin, destin, stamp_ns, q, p)) & M64
        self.csv_bytes[day] = self.csv_bytes.get(day, 0) + line_bytes
        key = (day, seg)
        self.seg_count[key] = self.seg_count.get(key, 0) + 1
        self.seg_price[key] = self.seg_price.get(key, 0) + p

    def window(self, lo, hi, seg=None):
        if seg is None:
            return (sum(self.count.get(d, 0) for d in range(lo, hi)),
                    sum(self.price.get(d, 0) for d in range(lo, hi)))
        return (sum(self.seg_count.get((d, seg), 0) for d in range(lo, hi)),
                sum(self.seg_price.get((d, seg), 0) for d in range(lo, hi)))


def edge_line(rng, n_clients, n_products, day):
    o = int(rng.random() * n_clients) + 1
    d = int(rng.random() * n_products) + 1
    sec = int(rng.random() * 86400)
    q = int(rng.random() * 9) + 1
    p = int(rng.random() * 9900) + 100
    hh, rem = divmod(sec, 3600)
    mm, ss = divmod(rem, 60)
    text = f"{_DAY_STR[day]}T{hh:02d}:{mm:02d}:{ss:02d}"
    stamp_ns = (BASE_EPOCH + day * 86400 + sec) * NS
    return o, d, stamp_ns, q, p, f"{o},{d},{text},{q},{p}\n"


EDGE_HEADER = "origin,destin,stamp,quantity,price\n"


def make_scope(rng, sc):
    """Vertices and the set-up buys loads; returns files and the ledger."""
    clients = []
    lines = ["id,name,segment,score\n"]
    for cid in range(1, sc["clients"] + 1):
        seg = SEGMENTS[int(rng.random() * len(SEGMENTS))]
        score = int(rng.random() * 400) / 4
        clients.append((cid, f"c{cid:06d}", seg, score))
        lines.append(f"{cid},c{cid:06d},{seg},{score:.2f}\n")
    client_csv = "".join(lines)
    lines = ["id,title,category\n"]
    for pid in range(1, sc["products"] + 1):
        cat = CATEGORIES[int(rng.random() * len(CATEGORIES))]
        lines.append(f"{pid},p{pid:05d},{cat}\n")
    product_csv = "".join(lines)

    seg_of = {c[0]: c[2] for c in clients}
    days, loads = sc["days"], sc["loads"]
    per_load = sc["edges"] // loads
    stats = DayStats()
    load_csvs = []
    for i in range(loads):
        lo, hi = i * days // loads, (i + 1) * days // loads
        out = [EDGE_HEADER]
        for _ in range(per_load):
            day = lo + int(rng.random() * (hi - lo))
            o, d, st, q, p, line = edge_line(
                rng, sc["clients"], sc["products"], day)
            stats.add(day, seg_of[o], o, d, st, q, p, len(line))
            out.append(line)
        load_csvs.append("".join(out))
    return {
        "client_csv": client_csv, "product_csv": product_csv,
        "load_csvs": load_csvs, "clients": clients, "stats": stats,
        "per_load": per_load,
    }


def point_op(zipf, rng, clients):
    k = zipf.draw(rng)
    cid, name, seg, score = clients[k - 1]
    return ("point", "-",
            f"select id, name, segment, score from client where id = {k}",
            f"{cid}|{name}|{seg}|{score}")


def range_op(rng, stats, lo_day, hi_day, variant):
    """A stamp-window aggregate in [lo_day, hi_day). `variant` 0-3 picks
    1-day or 30-day, plain or joined to client on a segment; callers
    cycle through the four so every stretch of a stream has them all."""
    width = 1 if variant < 2 else min(30, hi_day - lo_day)
    start = lo_day + int(rng.random() * (hi_day - lo_day - width + 1))
    seg = SEGMENTS[int(rng.random() * 4)] if variant % 2 else None
    where = (f"stamp >= '{day_str(start)}' and "
             f"stamp < '{day_str(start + width)}'")
    if seg is None:
        stmt = f"select count(*), sum(price) from buys where {where}"
    else:
        stmt = ("select count(*), sum(price) from buys join client on "
                f"origin where segment = '{seg}' and {where}")
    n, s = stats.window(start, start + width, seg)
    return ("range", f"{width}d" + ("j" if seg else ""), stmt, f"{n}|{s}")


def export_op(rng, stats, days, width, mode):
    start = int(rng.random() * (days - width + 1))
    stmt = ("select origin, destin, stamp, quantity, price from buys "
            f"where stamp >= '{day_str(start)}' and "
            f"stamp < '{day_str(start + width)}'")
    n = sum(stats.count.get(d, 0) for d in range(start, start + width))
    h = 0
    for d in range(start, start + width):
        h = (h + stats.checksum.get(d, 0)) & M64
    return ("export", mode, stmt, f"{n}|{h}")


def cycle(pattern, n, offset=0):
    """`n` op kinds following `pattern` from `offset`, round and round.
    Every stretch of a stream then has the pattern's exact mix, however
    few ops a run gets through; the seed draws everything else."""
    return [pattern[(offset + i) % len(pattern)] for i in range(n)]


# 60% point, 35% range, 5% export, the ranges spread evenly
SERVE_PATTERN = ("range", "point", "point", "range", "point", "point",
                 "range", "point", "point", "range", "export", "range",
                 "point", "point", "range", "point", "point", "range",
                 "point", "point")
# 40% edge insert, 20% vertex insert, 20% update, 20% delete; every kind
# comes within the first four ops, so a short replay reaches them all
WRITER_PATTERN = ("insert", "vinsert", "update", "delete", "insert",
                  "insert", "vinsert", "update", "insert", "delete")


def serve_streams(rng, sc, scope):
    zipf = Zipf(sc["clients"], 1.0, rng)
    streams = []
    for c in range(sc["serve_clients"]):
        ops, exports, ranges = [], 0, c
        # clients start at different points of the pattern
        for kind in cycle(SERVE_PATTERN, sc["serve_ops"], 5 * c):
            if kind == "point":
                ops.append(point_op(zipf, rng, scope["clients"]))
            elif kind == "range":
                ops.append(range_op(rng, scope["stats"], 0, sc["days"],
                                    ranges % 4))
                ranges += 1
            else:
                # alternate framings, starting from the client index, so
                # both run early in every run
                mode = "binary" if (c + exports) % 2 else "text"
                exports += 1
                ops.append(export_op(rng, scope["stats"], sc["days"],
                                     sc["export_days"], mode))
        streams.append(ops)
    return streams


def ingest_traffic(rng, sc, scope):
    """Loader batches, the loader/writer/reader op streams, and the
    ingest ledger (enough to recompute the final table state for any
    completed prefix of the loader and writer streams)."""
    days = sc["days"]
    batches, batch_meta, loader = [], [], []
    for k in range(sc["batches"]):
        day = days + k
        out = [EDGE_HEADER]
        good = bad = good_bytes = 0
        for j in range(sc["batch_rows"]):
            o, d, st, q, p, line = edge_line(
                rng, sc["clients"], sc["products"], day)
            if j % sc["bad_every"] == sc["bad_every"] - 1:
                line = line.rsplit(",", 2)[0] + f",q{q},{p}\n"
                bad += 1
            else:
                good += 1
                good_bytes += len(line)
            out.append(line)
        batches.append("".join(out))
        batch_meta.append({"day": day, "good": good, "bad": bad,
                           "good_bytes": good_bytes})
        # {input} is the directory the inputs are written to
        loader.append(("load", str(k), f"load '{{input}}/batch_{k:03d}.csv' "
                       "into buys use header", f"{good}|{bad}"))
        if (k + 1) % sc["retention_every"] == 0:
            cutoff = k + 1  # keep a `days`-day window ending at `day`
            loader.append(("retention", str(cutoff),
                           f"delete from buys where stamp < "
                           f"'{day_str(cutoff)}'", "ok"))

    today = days  # writer edges land on the first ingest day
    writer, live_new, next_id = [], [], sc["clients"] + 1
    for kind in cycle(WRITER_PATTERN, sc["writer_ops"]):
        if kind == "insert":
            o, d, st, q, p, line = edge_line(
                rng, sc["clients"], sc["products"], today)
            ts = line.split(",")[2]
            writer.append(("insert", str(len(line)),
                           "insert into buys (origin, destin, stamp, "
                           f"quantity, price) ({o}, {d}, '{ts}', {q}, {p})",
                           "ok"))
        elif kind == "vinsert" or (kind == "delete" and not live_new):
            cid, next_id = next_id, next_id + 1
            score = int(rng.random() * 400) / 4
            live_new.append(cid)
            writer.append(("vinsert", f"{cid}:{score}",
                           "insert into client (id, name, segment, score) "
                           f"({cid}, 'w{cid}', 'basic', {score})", "ok"))
        elif kind == "update":
            cid = int(rng.random() * sc["clients"]) + 1
            score = int(rng.random() * 400) / 4
            writer.append(("update", f"{cid}:{score}",
                           f"update client set score = {score} "
                           f"where id = {cid}", "ok"))
        else:
            cid = live_new.pop(int(rng.random() * len(live_new)))
            writer.append(("delete", str(cid),
                           f"delete from client where id = {cid}", "ok"))

    # Readers run the unjoined ranges only (1-day and 30-day, variants 0
    # and 2). The engine's copy-on-write keeps one old generation of a
    # table, so a read that spans two rewrites of a table it scans loses
    # its files (FILE_NOT_EXIST): a join to `client` does, beside the
    # writer's vertex UPDATE/DELETE every few hundred ms.
    lo = days - sc["recent_days"]
    readers = [[range_op(rng, scope["stats"], lo, days, 2 * ((i + r) % 2))
                for i in range(sc["reader_ops"])]
               for r in range(sc["readers"])]
    return batches, batch_meta, loader, writer, readers


def generate(seed, workload, scales=None):
    """All inputs of one seed and workload, in memory. The scope and each
    workload's traffic draw from their own seeded streams, so the scope
    of a seed is the same whichever workload is generated."""
    sc = dict(SCALES, **(scales or {}))
    scope = make_scope(random.Random(f"{seed}/scope"), sc)
    rng = random.Random(f"{seed}/{workload}")
    serve, batches, batch_meta, loader, writer, readers = (
        [], [], [], [], [], [])
    if workload == "serve":
        serve = serve_streams(rng, sc, scope)
    elif workload == "ingest":
        batches, batch_meta, loader, writer, readers = ingest_traffic(
            rng, sc, scope)
    else:
        raise ValueError(f"unknown workload {workload}")
    st = scope["stats"]
    ledger = {
        "seed": seed, "scales": sc,
        "clients": len(scope["clients"]),
        "client_score_sum": sum(c[3] for c in scope["clients"]),
        "client_scores": {str(c[0]): c[3] for c in scope["clients"]},
        "client_csv_bytes": len(scope["client_csv"].encode()) - len(
            "id,name,segment,score\n"),
        "product_csv_bytes": len(scope["product_csv"].encode()) - len(
            "id,title,category\n"),
        "edges": sum(st.count.values()),
        "day_count": [st.count.get(d, 0) for d in range(sc["days"])],
        "day_price": [st.price.get(d, 0) for d in range(sc["days"])],
        "day_csv_bytes": [st.csv_bytes.get(d, 0) for d in range(sc["days"])],
        "load_rows": [scope["per_load"]] * sc["loads"],
        "batches": batch_meta,
    }
    return {
        "workload": workload, "scales": sc, "scope": scope, "ledger": ledger,
        "serve": serve, "loader": loader, "writer": writer,
        "readers": readers, "batches": batches,
    }


def write_ops(path, ops):
    with open(path, "w") as f:
        for kind, arg, stmt, expect in ops:
            f.write(f"{kind}\t{arg}\t{stmt}\t{expect}\n")


def write_inputs(g, out):
    """Write the files the load generator reads into `out`."""
    workload = g["workload"]
    os.makedirs(out, exist_ok=True)

    def put(name, text):
        with open(os.path.join(out, name), "w") as f:
            f.write(text)

    sc, scope = g["scales"], g["scope"]
    put("client.csv", scope["client_csv"])
    put("product.csv", scope["product_csv"])
    for i, text in enumerate(scope["load_csvs"]):
        put(f"load_{i:03d}.csv", text)
    streams = {}
    if workload == "serve":
        for i, ops in enumerate(g["serve"]):
            streams[f"serve{i}"] = ops
    elif workload == "ingest":
        for k, text in enumerate(g["batches"]):
            put(f"batch_{k:03d}.csv", text)
        streams["loader"] = g["loader"]
        streams["writer"] = g["writer"]
        for i, ops in enumerate(g["readers"]):
            streams[f"reader{i}"] = ops
    for name, ops in streams.items():
        write_ops(os.path.join(out, f"ops_{name}.tsv"), ops)
    put("spec.properties", "".join(
        f"{k}={v}\n" for k, v in [
            ("workload", workload), ("loads", sc["loads"]),
            ("clients", sc["clients"]), ("products", sc["products"]),
            ("streams", ",".join(streams)), ("base_date", day_str(0)),
            ("load_rows", scope["per_load"])]))
    put("ledger.json", json.dumps(g["ledger"], sort_keys=True))


def ingest_final(ledger, loader_ops, writer_ops):
    """Expected table state after the first `len(loader_ops)` loader ops
    and `len(writer_ops)` writer ops (both given as op tuples)."""
    days = ledger["scales"]["days"]
    day_count = {d: c for d, c in enumerate(ledger["day_count"])}
    day_bytes = {d: b for d, b in enumerate(ledger["day_csv_bytes"])}
    for kind, arg, _, _ in loader_ops:
        if kind == "load":
            b = ledger["batches"][int(arg)]
            day_count[b["day"]] = day_count.get(b["day"], 0) + b["good"]
            day_bytes[b["day"]] = day_bytes.get(b["day"], 0) + b["good_bytes"]
        elif kind == "retention":
            for d in [d for d in day_count if d < int(arg)]:
                del day_count[d]
                day_bytes.pop(d, None)
    scores = dict(ledger["client_scores"])
    for kind, arg, stmt, _ in writer_ops:
        if kind == "insert":
            day_count[days] = day_count.get(days, 0) + 1
            day_bytes[days] = day_bytes.get(days, 0) + int(arg)
        elif kind in ("vinsert", "update"):
            cid, score = arg.split(":")
            scores[cid] = float(score)
        elif kind == "delete":
            scores.pop(arg, None)
    live_new = [c for c in scores if int(c) > ledger["clients"]]
    new_bytes = sum(len(f"{c},w{c},basic,{scores[c]:.2f}\n")
                    for c in live_new)
    return {
        "buys": sum(day_count.values()),
        "clients": len(scores),
        "score_sum": sum(scores.values()),
        "live_csv_bytes": (sum(day_bytes.values())
                           + ledger["client_csv_bytes"]
                           + ledger["product_csv_bytes"] + new_bytes),
    }
