"""Per-layer metrics of a traced run, from the spans the load generator
wrote.

Spans (spans.tsv): id, parent, stmt, name, start_ms, end_ms, attrs.
  op           one wire round trip (SELECT + every FETCH, or a DML/LOAD)
  fetch        one wire FETCH round trip inside an op
  parse        graft.sql.Parser.parse of the same statement
  inproc       the same SELECT in-process: compile (Engine.sql), plan
               (optimize + physical plan), cursor_open, inproc_fetch
  job/stage/task  Spark listener events; a job belongs to the op or
               inproc span whose window holds its submission time
  sql          one Spark SQL execution with the file-scan counters of its
               scan nodes; attributed to op windows like jobs
  operator     (serve) one graft.operators.Graph loop over the buys edges
"""
from statistics import median

OPERATORS = ("pagerank", "connected_components", "kcore")
LAYER_ORDER = ("wire", "parser", "engine", "catalog", "catalyst", "scan",
               "spark", "cursor", "write", "operators", "jvm", "trace")


def read_spans(path):
    spans = []
    with open(path) as f:
        for line in f:
            sid, parent, stmt, name, start, end, attrs = line.rstrip(
                "\n").split("\t")
            kv = {}
            for item in filter(None, attrs.split(";")):
                k, v = item.split("=", 1)
                try:
                    kv[k] = float(v)
                except ValueError:
                    kv[k] = v
            spans.append({"id": int(sid), "parent": int(parent),
                          "stmt": int(stmt), "name": name,
                          "start": float(start), "end": float(end),
                          "dur": float(end) - float(start), "attrs": kv})
    return spans


def _union(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# A metric whose layer the run did not reach (no op of its kind ran) is
# None, printed n/a.
def _mean(xs):
    return sum(xs) / len(xs) if xs else None


def _med(xs):
    return median(xs) if xs else None


def _ratio(num, den):
    return num / den if den else None


def attribute(spans):
    """Gives every job the span (op or inproc) whose window holds its
    start; returns {span id: [job spans]} plus stage and task indexes."""
    windows = sorted((s["start"], s["end"], s["id"]) for s in spans
                     if s["name"] in ("op", "inproc", "operator"))
    jobs = [s for s in spans if s["name"] in ("job", "sql")]
    stages = {}
    for s in spans:
        if s["name"] == "stage":
            stages.setdefault(s["parent"], []).append(s)
    tasks = {}
    for s in spans:
        if s["name"] == "task":
            tasks.setdefault(s["parent"], []).append(s)
    owner = {}
    for j in jobs:
        # listener times are whole ms: allow one ms of slack each side
        hits = [w for w in windows if w[0] - 1 <= j["start"] <= w[1] + 1]
        if hits:
            owner.setdefault(hits[-1][2], []).append(j)
    return owner, stages, tasks


def layer_metrics(spans, result, traced_ops, untraced_ops):
    """Returns ({metric: (value or None, unit, base)}, detail rows,
    operator rows)."""
    by_stmt = {}
    for s in spans:
        by_stmt.setdefault(s["stmt"], []).append(s)
    ops = [s for s in spans if s["name"] == "op"]
    owner, stages, tasks = attribute(spans)
    m = {}

    def put(name, value, unit, base):
        m[name] = (None if value is None else float(value), unit, base)

    def child(op, name):
        return [s for s in by_stmt.get(op["stmt"], []) if s["name"] == name]

    reads = [o for o in ops if o["attrs"]["kind"] in
             ("point", "range", "export")]
    # wire: round trip minus the same statement in-process, counting only
    # the in-process calls the server makes too (not the forced plan)
    def inproc_ms(o):
        return sum(s["dur"] for s in by_stmt.get(o["stmt"], [])
                   if s["name"] in ("compile", "cursor_open", "inproc_fetch"))

    for kind in ("point", "range", "export"):
        diffs = [o["dur"] - inproc_ms(o)
                 for o in reads if o["attrs"]["kind"] == kind
                 and child(o, "inproc")]
        put(f"wire.self_ms.{kind}", _med(diffs), "ms",
            f"median of {len(diffs)} {kind} ops")
    fetches = [s["dur"] for s in spans if s["name"] == "fetch"]
    put("wire.fetch_ms", _mean(fetches), "ms",
        f"mean of {len(fetches)} FETCHes")
    exports = [o for o in reads if o["attrs"]["kind"] == "export"]
    put("wire.fetches_per_export",
        _mean([o["attrs"]["fetches"] for o in exports]), "count",
        f"{len(exports)} exports")
    for mode in ("text", "binary"):
        xs = [o for o in exports if o["attrs"]["mode"] == mode]
        rows = sum(o["attrs"]["rows"] for o in xs)
        put(f"wire.bytes_per_row.{mode}",
            _ratio(sum(o["attrs"]["bytes"] for o in xs), rows),
            "B/row", f"{int(rows)} rows in {len(xs)} {mode} exports")

    # parse and compile
    parses = [s["dur"] for s in spans if s["name"] == "parse"]
    put("parser.parse_us", _med(parses) * 1000 if parses else None, "us",
        f"median of {len(parses)} statements")
    compiles = []
    for o in reads:
        c, p = child(o, "compile"), child(o, "parse")
        if c and p:
            compiles.append(c[0]["dur"] - p[0]["dur"])
    put("engine.compile_ms", _med(compiles), "ms",
        f"median of {len(compiles)} SELECTs (Engine.sql minus parse)")

    # catalog
    put("catalog.open_ms", result.get("catalog_open_ms", 0), "ms",
        "median of 21 Catalog.open calls")
    tables = ("buys", "client", "product")
    files = [float(result.get(f"files_{t}", 0)) for t in tables]
    put("catalog.files_per_table", _mean(files), "count",
        "data files / 3 tables (" + ", ".join(
            f"{t} {int(f)}" for t, f in zip(tables, files)) + ")")
    put("catalog.versions_on_disk",
        sum(float(result.get(f"versions_{t}", 0)) for t in tables), "count",
        "version directories over 3 tables")

    # catalyst and scan, from the in-process replay of each SELECT
    inproc = [s for s in spans if s["name"] == "inproc"]
    for phase in ("analysis", "optimization", "planning"):
        xs = [s["attrs"].get(f"{phase}_ms", 0.0) for s in inproc]
        put(f"catalyst.{phase}_ms", _med(xs), "ms",
            f"median of {len(xs)} SELECTs")
    # scan: SQL metrics of the executions inside each wire SELECT
    def owned(o, name):
        return [j for j in owner.get(o["id"], []) if j["name"] == name]

    def scan(o, key):
        return sum(x["attrs"].get(key, 0.0) for x in owned(o, "sql"))

    put("scan.metadata_ms", _med([scan(o, "scan_meta_ms") for o in reads]),
        "ms", f"median of {len(reads)} SELECTs")
    for name, key in (("files_read_per_stmt", "scan_files"),
                      ("partitions_read_per_stmt", "scan_partitions"),
                      ("bytes_read_per_stmt", "scan_bytes")):
        put(f"scan.{name}", _mean([scan(o, key) for o in reads]),
            "B" if key == "scan_bytes" else "count",
            f"mean of {len(reads)} SELECTs")
    returned = sum(o["attrs"]["rows"] for o in reads)
    put("scan.rows_read_per_row_returned",
        _ratio(sum(scan(o, "scan_rows") for o in reads), returned), "ratio",
        f"{int(returned)} rows returned")

    # Spark scheduling and executors, over the wire ops' own jobs
    def jobs_of(o):
        return owned(o, "job")

    def tasks_of(job):
        return [t for st in stages.get(job["id"], [])
                for t in tasks.get(st["id"], [])]

    n = len(ops)
    all_jobs = [j for o in ops for j in jobs_of(o)]
    all_stages = [st for j in all_jobs for st in stages.get(j["id"], [])]
    all_tasks = [t for j in all_jobs for t in tasks_of(j)]
    per = f"per op over {n} ops"
    put("spark.jobs_per_stmt", _ratio(len(all_jobs), n), "count", per)
    put("spark.stages_per_stmt", _ratio(len(all_stages), n), "count", per)
    put("spark.tasks_per_stmt", _ratio(len(all_tasks), n), "count", per)
    empty = [t for t in all_tasks
             if t["attrs"].get("in_rows", 0) == 0
             and t["attrs"].get("shr_rows", 0) == 0]
    put("spark.empty_task_share", _ratio(len(empty), len(all_tasks)), "ratio",
        f"{len(empty)} of {len(all_tasks)} tasks read 0 rows")
    gaps = [j["dur"] - _union([(t["start"], t["end"]) for t in tasks_of(j)])
            for j in all_jobs]
    put("spark.sched_gap_ms", _ratio(sum(gaps), n), "ms",
        f"job time with no task running, {per}")
    for name, key, unit in (
            ("task_deser_ms", "deser_ms", "ms"),
            ("executor_run_ms", "run_ms", "ms"),
            ("executor_cpu_ms", "cpu_ms", "ms"),
            ("gc_ms", "gc_ms", "ms"),
            ("shuffle_read_bytes", "shr_bytes", "B"),
            ("shuffle_write_bytes", "shw_bytes", "B"),
            ("spill_bytes", "spill_bytes", "B")):
        put(f"spark.{name}",
            _ratio(sum(t["attrs"].get(key, 0.0) for t in all_tasks), n),
            unit, f"task sum {per}")

    # cursor
    put("cursor.jobs_per_export",
        _mean([len(jobs_of(o)) for o in exports]), "count",
        f"{len(exports)} exports")
    exp_in = [s for s in inproc if s["attrs"].get("kind") == "export"]
    put("cursor.persist_bytes",
        _mean([s["attrs"].get("persist_bytes", 0.0) for s in exp_in]), "B",
        f"mean over {len(exp_in)} exports")

    # write path
    def of(kind):
        return [o for o in ops if o["attrs"]["kind"] == kind]
    loads = of("load")
    put("write.files_per_load",
        _mean([o["attrs"].get("files_added", 0.0) for o in loads]), "count",
        f"{len(loads)} LOADs")
    inserts = of("insert")
    put("write.files_per_insert",
        _mean([o["attrs"].get("files_added", 0.0) for o in inserts]),
        "count", f"{len(inserts)} edge INSERTs")
    inb = sum(o["attrs"].get("input_bytes", 0.0) for o in loads)
    put("write.bytes_written_per_input_byte",
        _ratio(sum(o["attrs"].get("bytes_delta", 0.0) for o in loads), inb),
        "ratio", f"{int(inb)} CSV bytes loaded")
    rewrites = of("update") + of("delete") + of("retention")
    put("write.rewrite_bytes",
        _mean([o["attrs"].get("dir_bytes", 0.0) for o in rewrites]), "B",
        f"new version size, mean of {len(rewrites)} rewrites")

    # operators: the graph loops, with the Spark counters of their jobs
    operators = []
    for name in OPERATORS:
        xs = [s for s in spans if s["name"] == "operator"
              and s["attrs"]["query"] == name]
        put(f"operators.{name}_s",
            sum(x["dur"] for x in xs) / 1e3 if xs else None, "s",
            "one run to the noop sink" if xs else "not run in this workload")
        for x in xs:
            js = owned(x, "job")
            ts = [t for j in js for t in tasks_of(j)]
            operators.append((name, x["dur"], len(js), len(ts), sum(
                j["dur"] - _union([(t["start"], t["end"])
                                   for t in tasks_of(j)]) for j in js),
                {k: sum(t["attrs"].get(k, 0.0) for t in ts) for k in (
                    "deser_ms", "run_ms", "cpu_ms", "gc_ms", "shr_bytes",
                    "shw_bytes", "spill_bytes")}))

    # memory
    put("jvm.gc_ms", result.get("jvm_gc_ms", 0), "ms", "traced phase")
    put("jvm.gc_count", result.get("jvm_gc_count", 0), "count",
        "traced phase")
    put("jvm.heap_after_gc_mb", result.get("retained_heap_mb", 0), "MB",
        "after System.gc() at the end")
    put("spark.persisted_rdds_after", result.get("persisted_rdds_after", 0),
        "count", "getPersistentRDDs at the end")

    # tracing overhead: the same read statements, traced vs untraced
    plain = {(s[0], s[1]): s[3] for s in untraced_ops}
    pairs = [(plain[(s[0], s[1])], s[3]) for s in traced_ops
             if (s[0], s[1]) in plain]
    base = sum(p for p, _ in pairs)
    put("trace.overhead_pct",
        _ratio(100 * (sum(t for _, t in pairs) - base), base), "%",
        f"{len(pairs)} read ops replayed both ways")

    detail = []
    for kind in sorted({o["attrs"]["kind"] for o in ops}):
        xs = of(kind)
        js = [j for o in xs for j in jobs_of(o)]
        ts = [t for j in js for t in tasks_of(j)]
        gap = sum(j["dur"] - _union([(t["start"], t["end"])
                                     for t in tasks_of(j)]) for j in js)
        compiles = [c["dur"] for o in xs for c in child(o, "compile")]
        detail.append((kind, len(xs), _med([o["dur"] for o in xs]),
                       _med(compiles), len(js) / len(xs), len(ts) / len(xs),
                       gap / len(xs),
                       sum(t["attrs"].get("run_ms", 0.0) for t in ts)
                       / len(xs)))
    return m, detail, operators


def format_table(workload, m, detail, operators):
    lines = [f"per-layer metrics, workload {workload} (traced replay, "
             "one statement at a time)",
             f"{'metric':34} {'value':>14} {'unit':6}  base"]
    for layer in LAYER_ORDER:
        for name in sorted(k for k in m if k.split(".")[0] == layer):
            v, unit, base = m[name]
            vs = "n/a" if v is None else f"{v:14.4f}"
            lines.append(f"{name:34} {vs:>14} {unit:6}  {base}")
    lines.append("")
    lines.append("per op type: ops, wall p50 ms (self+waiting), in-process "
                 "Engine.sql p50 ms, jobs/op, tasks/op, sched gap ms/op "
                 "(waiting), executor run ms/op")
    for kind, n, p50, comp, jobs, tasks, gap, run in detail:
        comp = "     n/a" if comp is None else f"{comp:8.2f}"
        lines.append(f"  {kind:10} n={n:<4d} p50={p50:9.2f}  sql={comp}"
                     f"  jobs={jobs:6.2f}  tasks={tasks:7.2f}  gap={gap:8.2f}"
                     f"  run={run:9.2f}")
    if operators:
        lines.append("")
        lines.append("per operator: wall ms, jobs, tasks, sched gap ms, "
                     "and task sums")
        for name, wall, jobs, tasks, gap, sums in operators:
            lines.append(f"  {name:22} wall={wall:9.1f} jobs={jobs:4d} "
                         f"tasks={tasks:5d} gap={gap:8.1f} " + " ".join(
                             f"{k}={v:.0f}" for k, v in sums.items()))
    return "\n".join(lines)
