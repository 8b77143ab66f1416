"""Client-to-rows benchmark of the graft engine.

Usage (from the repository root):
    python3 clientbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

Builds the engine from source (build.py), generates every input from the
seed (gen.py), starts one JVM that hosts Spark, an in-process
graft.engine.Server and the load generator (src/clientbench), checks every
answer against the generator's ledger, and prints a report followed by one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the run replays the op
streams one statement at a time and the metrics are the per-layer ones.
A record of the run goes to .bench_build/clientbench/runs/.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from stats import tail  # noqa: E402

WORKLOADS = ("serve", "ingest")
HEAP = "3g"
DEADLINE_S = 170  # the whole run, build excluded
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_flags(work):
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


def read_samples(path):
    """(stream, idx, kind, arg, pass, start_ns, end_ns, ok, rows, bytes,
    fetches, err) per op."""
    out = []
    with open(path) as f:
        for line in f:
            c = line.rstrip("\n").split("\t")
            out.append({
                "stream": c[0], "idx": int(c[1]), "kind": c[2], "arg": c[3],
                "pass": c[4], "start": int(c[5]), "end": int(c[6]),
                "ok": c[7] == "1", "rows": int(c[8]), "bytes": int(c[9]),
                "fetches": int(c[10]), "err": c[11] if len(c) > 11 else "",
                "ms": (int(c[6]) - int(c[5])) / 1e6})
    return out


def read_props(path):
    out = {}
    with open(path) as f:
        for line in f:
            k, _, v = line.rstrip("\n").partition("=")
            try:
                out[k] = float(v)
            except ValueError:
                out[k] = v
    return out


def streams_of(g):
    if g["workload"] == "serve":
        return {f"serve{i}": ops for i, ops in enumerate(g["serve"])}
    s = {"loader": g["loader"], "writer": g["writer"]}
    s.update({f"reader{i}": ops for i, ops in enumerate(g["readers"])})
    return s


def final_checks(g, result, samples):
    """Ingest: table state at the end against the ledger (serve only
    reads, and each read is checked); returns (failures, expected)."""
    if g["workload"] != "ingest":
        return [], None
    done = {}
    for s in samples:
        done[s["stream"]] = max(done.get(s["stream"], 0), s["idx"] + 1)
    want = gen.ingest_final(g["ledger"], g["loader"][:done.get("loader", 0)],
                            g["writer"][:done.get("writer", 0)])
    got = {"buys": result["final_buys"], "clients": result["final_clients"],
           "score_sum": result["final_score_sum"]}
    bad = [f"final {k}: got {got[k]} want {want[k]}" for k in got
           if abs(float(got[k]) - float(want[k])) > 1e-6]
    return bad, want


def timing(values):
    """(p50, tail value, tail percentile, n) of a list of ms."""
    t = tail(values)
    return (statistics.median(values) if values else None,
            t[0] if t else None, t[1] if t else None, len(values))


def completed(ops, deadline):
    """Ops completed by `deadline`, the one in flight on each client
    credited with the share of it done by then. A run completes only a few
    long ops per client, so whole counts would jump by a large step."""
    n = 0.0
    for s in ops:
        if s["end"] <= deadline:
            n += 1
        elif s["start"] < deadline:
            n += (deadline - s["start"]) / (s["end"] - s["start"])
    return n


def end_to_end(g, result, samples, want, seconds):
    """The report's metrics; GATED names the ones every workload has."""
    ok = [s for s in samples if s["ok"]]
    rep = {}

    def lat(name, kind):
        p50, tv, tp, n = timing([s["ms"] for s in ok if s["kind"] == kind])
        rep[f"{name}_p50_ms"] = (p50, "ms", n, None)
        rep[f"{name}_tail_ms"] = (tv, "ms", n, tp)  # n/a below 11 samples

    rep["setup_s"] = (result["setup_s"], "s", 1, None)
    # failed ops count in failed_share, not as throughput
    rep["ops_per_s"] = (
        completed(ok, result["timed_start_ns"] + seconds * 1e9)
        / seconds, "ops/s", len(ok), None)
    rep["failed_share"] = (
        (len(samples) - len(ok)) / len(samples), "ratio", len(samples), None)
    if g["workload"] == "serve":
        lat("point", "point")
        lat("range", "range")
        ex = [s for s in ok if s["kind"] == "export"]
        rows = sum(s["rows"] for s in ex)
        secs = sum(s["ms"] for s in ex) / 1e3
        rep["export_rows_per_s"] = (rows / secs if secs else None, "rows/s",
                                    len(ex), None)
    else:
        lat("range", "range")
        loads = [s for s in ok if s["kind"] == "load"]
        rows = sum(g["ledger"]["batches"][int(s["arg"])]["good"]
                   for s in loads)
        secs = sum(s["ms"] for s in loads) / 1e3
        rep["load_rows_per_s"] = (rows / secs if secs else None, "rows/s",
                                  len(loads), None)
        lat("insert", "insert")
        rw = [s["ms"] for s in ok if s["kind"] in ("update", "delete")]
        rep["rewrite_p50_ms"] = (statistics.median(rw) if rw else None, "ms",
                                 len(rw), None)
        rt = [s["ms"] for s in ok if s["kind"] == "retention"]
        rep["retention_p50_ms"] = (statistics.median(rt) if rt else None,
                                   "ms", len(rt), None)
        rep["stored_bytes_per_input_byte"] = (
            result["scope_bytes"] / want["live_csv_bytes"], "ratio", 1, None)
    rep["retained_heap_mb"] = (result["retained_heap_mb"], "MB", 1, None)
    return rep


# the end-to-end metrics every workload reports (BENCHMARK.json)
GATED = ("setup_s", "ops_per_s", "range_p50_ms", "retained_heap_mb")


def repeated_share(g, samples):
    """Share of executed serve statements whose text ran before."""
    streams = streams_of(g)
    seen, rep = set(), 0
    for s in sorted(samples, key=lambda s: s["start"]):
        stmt = streams[s["stream"]][s["idx"]][2]
        rep += stmt in seen
        seen.add(stmt)
    return rep / len(samples) if samples else 0.0


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, cwd=build.REPO, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, work, inp, out, args, cores, deadline):
    cmd = (["java"] + jvm_flags(work) + ["-cp", cp, "clientbench.LoadGen",
           "--input", inp, "--out", out, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(cores)])
    log_path = os.path.join(work, "loadgen.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=build.REPO)
        # a terminated benchmark takes its JVM with it
        signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"load generator failed: {code}")
    return cmd


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    load_start = os.getloadavg()
    cp = build.build()
    t_begin = time.time()
    cores = os.cpu_count() or 1
    work = os.path.join(build.OUT, "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    inp, out = os.path.join(work, "input"), os.path.join(work, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out)
    try:
        g = gen.generate(args.seed, args.workload)
        gen.write_inputs(g, inp)
        gen_s = time.time() - t_begin
        cmd = run_jvm(cp, work, inp, out, args, cores,
                      t_begin + DEADLINE_S)
        samples = read_samples(os.path.join(out, "samples.tsv"))
        result = read_props(os.path.join(out, "result.properties"))
        report, record = summarize(g, args, samples, result, out)
        print(report["text"])
        record.update({
            "seed": args.seed, "workload": args.workload,
            "seconds": args.seconds, "trace": args.trace, "nproc": cores,
            "spark_master": f"local[{cores}]",
            "jvm_flags": [f for f in cmd if f.startswith("-X")],
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "git_commit": git_commit(),
            "source_stamp": open(build.STAMP).read(),
            "generate_s": gen_s, "loadgen": result,
        })
        runs = os.path.join(build.OUT, "runs")
        os.makedirs(runs, exist_ok=True)
        name = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
        with open(os.path.join(runs, name), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
            f.write("\n")
        if args.trace:
            shutil.copy(os.path.join(out, "spans.tsv"),
                        os.path.join(runs, name[:-5] + ".spans.tsv"))
        print(f"run record: {os.path.join(runs, name)}")
        print(json.dumps(report["json"]))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def summarize(g, args, samples, result, out):
    """Checks, metrics and the printed report of one run."""
    pass_name = "traced" if args.trace else "timed"
    main_ops = [s for s in samples if s["pass"] == pass_name]
    failures = [f"{s['stream']}#{s['idx']} {s['kind']}: {s['err']}"
                for s in samples if not s["ok"]]
    bad_final, want = final_checks(g, result, main_ops)
    failures += bad_final
    # the ingest final-state check counts as one op
    attempted = len(samples) + (g["workload"] == "ingest")
    failed = len([s for s in samples if not s["ok"]]) + bool(bad_final)
    counts = {}
    for s in main_ops:
        counts[s["kind"]] = counts.get(s["kind"], 0) + 1
    record = {"op_counts": counts, "failures": failures[:50],
              "files_per_buys_day": {
                  "setup_end": result["files_per_day_setup"],
                  "workload_end": result["files_per_day_end"],
                  "format": "mean,max,day partitions"}}
    lines = [f"workload {g['workload']} seed {args.seed}: "
             f"{len(main_ops)} ops {counts}, failed {failed}"]
    lines += [f"  FAILED {f}" for f in failures[:10]]
    if g["workload"] == "serve":
        record["repeated_stmt_share"] = repeated_share(g, main_ops)
        lines.append("repeated-statement share: "
                     f"{record['repeated_stmt_share']:.4f}")
    lines.append("files per buys day partition (mean,max,days): setup end "
                 f"{result['files_per_day_setup']}, end "
                 f"{result['files_per_day_end']}")

    if args.trace:
        spans = layers.read_spans(os.path.join(out, "spans.tsv"))
        key = lambda s: (s["stream"], s["idx"], s["kind"], s["ms"])  # noqa
        m, detail, operators = layers.layer_metrics(
            spans, result,
            [key(s) for s in samples if s["pass"] == "traced"],
            [key(s) for s in samples if s["pass"] == "untraced"])
        lines.append(layers.format_table(g["workload"], m, detail, operators))
        record["per_layer"] = {k: v[0] for k, v in m.items()}
        # every per-layer name is in the result line; a layer the run did
        # not reach reads 0 there and n/a in the table
        metrics = {k: {"value": 0.0 if v[0] is None else v[0], "unit": v[1]}
                   for k, v in m.items()}
    else:
        rep = end_to_end(g, result, main_ops, want, args.seconds)
        record["end_to_end"] = {k: {"value": v[0], "unit": v[1], "n": v[2],
                                    "percentile": v[3]}
                                for k, v in rep.items()}
        lines.append(f"{'metric':30} {'value':>14} {'unit':7} {'n':>5}  "
                     "percentile")
        for k, (v, unit, n, pct) in rep.items():
            vs = "n/a" if v is None else f"{v:14.4f}"
            ps = "" if pct is None else f"p{pct:.1f}"
            lines.append(f"{k:30} {vs:>14} {unit:7} {n:5d}  {ps}")
        missing = [k for k in GATED if rep.get(k, (None,))[0] is None]
        if missing:
            lines.append(f"too few samples for {missing}")
            failed += 1
        metrics = {k: {"value": rep[k][0], "unit": rep[k][1]}
                   for k in GATED if k not in missing}
    correct = failed == 0
    return ({"text": "\n".join(lines),
             "json": {"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}}, record)


if __name__ == "__main__":
    main()
