#!/usr/bin/env python3
"""Served-path benchmark: drives the real MCP server as closed-loop
clients and checks every reply.

  python3 perfbench/run.py --workload agent_explore --seed 1 --seconds 18 --trace 0

--trace 0 times the shipped server (end-to-end metrics); --trace 1 runs
the benchmark's traced twin and reports the per-layer split. The last
stdout line is one JSON object: correct, attempted, failed, metrics.
Exit code 2 means the benchmark could not build or run at all.
"""
import argparse
import itertools
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pb import build, mcp, oracle, stats, workloads as wl  # noqa: E402

SETUPS = 2  # server spawns per end-to-end run; setup_s is their median
CLASSES = ["meta", "lookup", "analytic", "export"]
# settle_ops: untimed ops per client after the warm-up pass and before the
# timed window, so the window sees a JIT-compiled server rather than one
# still warming up (latency keeps falling for about 25 s after start-up).
# A count, not a time, so every run's window starts at the same point of
# each client's stream: 2.4 passes of agent_explore (about 10 s), about
# one pass of served_mix_http (about 3 s; its warm-up is already heavy).
# data: the test data scale factor the workload reads.
WORKLOADS = {
    "agent_explore": {"transport": "stdio", "clients": 1, "settle_ops": 120, "data": "sf0.1"},
    "served_mix_http": {"transport": "http", "clients": mcp.cpus(), "settle_ops": 6,
                        "data": "sf0.01"},
}


def op_frame(op):
    if op["tool"] == "tools/list":
        return mcp.frame(op["id"], "tools/list")
    return mcp.frame(op["id"], "tools/call", {"name": op["tool"], "arguments": op["args"]})


class Recorder:
    """Sends ops on one client and keeps (op, start, end, raw reply,
    trace reply) records in memory."""

    def __init__(self, client, traced):
        self.client, self.traced = client, traced
        self.records = []

    def run(self, ops, deadline=None):
        for op in ops:
            if deadline is not None and time.monotonic() >= deadline:
                return
            body = op_frame(op)
            t0 = time.monotonic()
            try:
                raw = self.client.call(body)
            except Exception as e:  # a transport failure is a failed op
                raw = json.dumps({"transport_error": str(e)}).encode()
            t1 = time.monotonic()
            tr = None
            if self.traced:
                tr = self.client.call(mcp.frame("t" + op["id"], "bench/trace", {"op": op["id"]}))
            self.records.append({"op": op, "t0": t0, "t1": t1, "raw": raw, "trace": tr})


def start(server):
    """Spawn → first successful list_catalogs result, in seconds."""
    if server.transport == "http":
        server.wait_port()
    c = server.client()
    c.initialize()
    reply = json.loads(c.call(mcp.frame("setup", "tools/call",
                                        {"name": "list_catalogs", "arguments": {}})))
    if reply.get("result", {}).get("isError", True):
        raise RuntimeError(f"list_catalogs failed: {reply}")
    took = time.monotonic() - server.t0
    c.close()
    return took


def decode(raw):
    """(columns, rows, truncated) of a reply, or raises with the reason."""
    frame = json.loads(raw)
    if "result" not in frame:
        raise ValueError(f"no result: {raw[:300]!r}")
    res = frame["result"]
    if "tools" in res:
        return ["name"], [[t["name"]] for t in res["tools"]], False
    text = res["content"][0]["text"]
    if res.get("isError"):
        raise ValueError(f"isError: {text[:300]}")
    payload = json.loads(text)
    if isinstance(payload, dict) and "data" in payload:
        data = payload["data"]
        cols = list(data[0].keys()) if data else []
        return cols, [list(r.values()) for r in data], payload["stats"]["truncated"]
    if isinstance(payload, list):
        if payload and isinstance(payload[0], dict):
            cols = list(payload[0].keys())
            return cols, [list(r.values()) for r in payload], False
        return ["value"], [[v] for v in payload], False
    return ["value"], [[payload]], False


class Checker:
    def __init__(self, data_dir):
        self.con = oracle.connect(data_dir)
        self.cache = {}
        self.digests = {}

    def oracle(self, sql):
        if sql not in self.cache:
            self.cache[sql] = oracle.expected(self.con, sql)
        return self.cache[sql]

    def check(self, rec, record_digest):
        """None if the reply is right, else the reason."""
        op = rec["op"]
        try:
            cols, rows, truncated = decode(rec["raw"])
        except Exception as e:
            return str(e)[:300]
        kind, arg = op["check"]
        if kind == "oracle":
            exp_cols, exp_rows = self.oracle(arg)
            if truncated:
                if len(exp_rows) <= wl.ROW_CAP or len(rows) != wl.ROW_CAP:
                    return f"truncated at {len(rows)} rows, oracle has {len(exp_rows)}"
                exp_rows = exp_rows[:wl.ROW_CAP]
            if not rows:
                return None if not exp_rows else f"rows exp={len(exp_rows)} got=0"
            return oracle.compare((exp_cols, exp_rows), cols, rows)
        if kind == "export":
            table = op["args"]["query"].split()[-1]
            exp_cols, _ = self.oracle(f"SELECT * FROM {table} LIMIT 0")
            (n,), = self.oracle(f"SELECT COUNT(*) FROM {table}")[1]
            if (truncated, len(rows)) != (n > wl.ROW_CAP, min(n, wl.ROW_CAP)):
                return f"export of {n} rows: truncated={truncated} rows={len(rows)}"
            if cols != exp_cols:
                return f"export columns {cols} != {exp_cols}"
            return None
        d = stats.digest(cols, rows)
        if record_digest:
            self.digests.setdefault(arg, d)
        want = self.digests.get(arg)
        if want is None:
            return f"no digest recorded for {arg}"
        return None if want == d else f"digest {d} ({len(rows)} rows) != recorded {want}"


def parallel(fn, n):
    """Runs fn(0..n-1) on n threads and waits for all; returns seconds."""
    errors = []

    def body(i):
        try:
            fn(i)
        except Exception as e:
            errors.append(e)
    threads = [threading.Thread(target=body, args=(i,)) for i in range(n)]
    t0 = time.monotonic()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return time.monotonic() - t0


def plan(name, seed, statements, clients, keys):
    """(solo warm-up ops for client 0, per client (warm-up ops, endless op
    stream)). The solo part runs before the others start, so the shape
    digests it records are taken without concurrent traffic."""
    stmts = wl.analytic_statements(statements)
    solo, out = [], []
    for c in range(clients):
        o = wl.Ops(seed * 1000 + c, keys, prefix=f"c{c}-")
        if name == "agent_explore":
            out.append((wl.explore_warmup(o), wl.explore_stream(o)))
        else:
            if c == 0:
                solo = wl.mix_solo_warmup(o)
            out.append((wl.mix_warmup(o, stmts, c, clients),
                        wl.mix_stream(o, stmts, c, clients)))
    return solo, out


def measure(server, name, seed, seconds, statements, keys, traced):
    """The untimed warm-up pass (timed as warmup_s) and settling load,
    then every client sends ops from its stream until `seconds` have
    elapsed; ops in flight at the deadline complete and count. Replies
    of the untimed part are checked too."""
    solo, p = plan(name, seed, statements, WORKLOADS[name]["clients"], keys)
    clients = [server.client() for _ in p]
    for c in clients:
        c.initialize()
    warm = [Recorder(c, traced) for c in clients]
    warm_s = parallel(lambda i: warm[i].run(solo), 1)
    warm_s += parallel(lambda i: warm[i].run(p[i][0]), len(p))
    settle = [Recorder(c, traced) for c in clients]
    n = WORKLOADS[name]["settle_ops"]
    parallel(lambda i: settle[i].run(itertools.islice(p[i][1], n)), len(p))
    timed = [Recorder(c, traced) for c in clients]
    deadline = time.monotonic() + seconds
    wall = parallel(lambda i: timed[i].run(p[i][1], deadline), len(p))
    for c in clients:
        c.close()
    return warm, settle, warm_s, timed, wall


def check_all(checker, warm, settle, timed):
    failures = []
    for recs, record in ((warm, True), (settle, False), (timed, False)):
        for r in recs:
            for rec in r.records:
                why = checker.check(rec, record)
                if why:
                    failures.append((rec["op"]["label"], why))
    return failures


def e2e_metrics(setups, warm_s, timed, wall, rss):
    recs = [x for r in timed for x in r.records]
    lat = [(x["t1"] - x["t0"]) * 1000 for x in recs]
    m = {"setup_s": (stats.median(setups), "s", len(setups)),
         "warmup_s": (warm_s, "s", 1),
         "ops_per_s": (len(recs) / wall, "op/s", len(recs)),
         "latency_p50_ms": (stats.percentile(lat, 50), "ms", len(lat)),
         "latency_p90_ms": (stats.percentile(lat, 90), "ms", len(lat)),
         "peak_rss_mb": (rss, "MB", 1)}
    extra = {}
    for cls in CLASSES:
        xs = [(x["t1"] - x["t0"]) * 1000 for x in recs if x["op"]["cls"] == cls]
        if xs:
            extra[f"{cls}_p50_ms"] = (stats.median(xs), "ms", len(xs))
    return m, extra


PIECES = ["guard", "service.matchers", "dialect.preprocess", "dialect.mr_splice",
          "catalyst.parse", "catalyst.analyze", "catalyst.optimize", "catalyst.plan", "exec",
          "service.thread"]
SERVICE_LAYERS = ["metadata.list_catalogs", "metadata.list_schemas", "metadata.list_tables",
                  "metadata.table_schema", "explain"]


def op_layers(rec):
    """Per-layer figures of one traced op (ms unless named otherwise)."""
    tr = json.loads(rec["trace"])["result"]
    spans = [{"name": s[0], "start": s[1], "end": s[2], "parent": s[3]} for s in tr["spans"]]
    selfs = {k: v / 1e6 for k, v in stats.layer_self(spans).items()}
    dur = {}
    for s in spans:
        dur[s["name"]] = dur.get(s["name"], 0) + (s["end"] - s["start"]) / 1e6
    handle = tr["handle_ns"] / 1e6
    out = {"mcp.handle_ms": handle,
           "mcp.transport_ms": (rec["t1"] - rec["t0"]) * 1000 - handle,
           "mcp.response_bytes": len(rec["raw"]),
           "json.parse_ms": selfs.get("json.parse", 0.0),
           "json.write_ms": selfs.get("json.write", 0.0),
           "rows": tr["rows"]}
    attributed = out["json.parse_ms"] + out["json.write_ms"]
    for name in PIECES + SERVICE_LAYERS:
        if name in selfs:
            out[name] = selfs[name]
    if "service.execute" in dur:
        out["service.execute_ms"] = dur["service.execute"]
        out["service.self_ms"] = selfs.get("service.matchers", 0.0) + selfs.get("service.thread", 0.0)
        attributed += sum(selfs.get(n, 0.0) for n in PIECES)
    attributed += sum(selfs.get(n, 0.0) for n in SERVICE_LAYERS)
    out["attributed_ms"] = attributed
    ex = tr.get("exec") or {}
    if ex:
        out["exec_counts"] = ex
    return spans, out


def layer_metrics(timed, settle, warm, setup_engine_ns):
    recs = [x for r in timed for x in r.records]
    per = []
    all_spans = []
    for rec in recs:
        spans, lay = op_layers(rec)
        per.append((rec["op"], lay))
        all_spans += [dict(s, op=rec["op"]["id"]) for s in spans]
    # A layer the timed window never reached (a meta kind the rotation did
    # not come to) is read from the run's untimed settling load instead.
    settled = [op_layers(x)[1] for r in settle for x in r.records]

    def p50(key):
        xs = [l[key] for _, l in per if key in l] or [l[key] for l in settled if key in l]
        return (stats.median(xs) if xs else 0.0), len(xs)

    def total(key):
        return sum(l["exec_counts"][key] for _, l in per if "exec_counts" in l)
    execs = [l for o, l in per if o["tool"] == "execute_query"]
    n_exec = max(1, len(execs))
    m = {}
    for name, key in [("mcp.transport_ms", "mcp.transport_ms"), ("json.parse_ms", "json.parse_ms"),
                      ("json.write_ms", "json.write_ms"), ("guard.ms", "guard"),
                      ("dialect.preprocess_ms", "dialect.preprocess"),
                      ("dialect.mr_splice_ms", "dialect.mr_splice"),
                      ("catalyst.parse_ms", "catalyst.parse"),
                      ("catalyst.analyze_ms", "catalyst.analyze"),
                      ("catalyst.optimize_ms", "catalyst.optimize"),
                      ("catalyst.plan_ms", "catalyst.plan"), ("exec.ms", "exec"),
                      ("service.execute_ms", "service.execute_ms"),
                      ("service.self_ms", "service.self_ms"),
                      ("metadata.list_tables_ms", "metadata.list_tables"),
                      ("metadata.table_schema_ms", "metadata.table_schema"),
                      ("explain.ms", "explain")]:
        v, n = p50(key)
        m[name] = (v, "ms", n)
    m["mcp.response_bytes"] = (sum(l["mcp.response_bytes"] for _, l in per) / len(per), "B",
                               len(per))
    m["json.bytes_per_row"] = (sum(l["mcp.response_bytes"] for l in execs) /
                               max(1, sum(l["rows"] for l in execs)), "B", len(execs))
    m["exec.task_run_ms"] = (total("task_run_ms") / n_exec, "ms", len(execs))
    for k in ["jobs", "stages", "tasks"]:
        m[f"exec.{k}"] = (total(k) / n_exec, "count", len(execs))
    m["exec.rows_read_per_row_returned"] = (
        total("records_read") / max(1, sum(l["rows"] for l in execs)), "ratio", len(execs))
    m["exec.task_wait_ms"] = (total("task_wait_ms") / max(1, total("tasks")), "ms", total("tasks"))
    m["exec.gc_ms"] = (total("gc_ms") / n_exec, "ms", len(execs))
    m["exec.shuffle_write_mb"] = (total("shuffle_write_bytes") / n_exec / 2**20, "MB", len(execs))
    m["exec.spill_mb"] = (total("spill_bytes") / n_exec / 2**20, "MB", len(execs))
    m["setup.engine_s"] = ((setup_engine_ns or 0) / 1e9, "s", 1)
    first = next((x for r in warm for x in r.records if x["op"]["tool"] == "execute_query"), None)
    m["setup.first_query_s"] = ((first["t1"] - first["t0"]) if first else 0.0, "s", 1)
    handle = sum(l["mcp.handle_ms"] for _, l in per)
    m["trace.coverage"] = (sum(l["attributed_ms"] for _, l in per) / handle, "ratio", len(per))
    lat = [(x["t1"] - x["t0"]) * 1000 for x in recs]
    m["trace.latency_p50_ms"] = (stats.median(lat), "ms", len(lat))
    by_class = {}
    for cls in CLASSES:
        sel = [l for o, l in per if o["cls"] == cls]
        if sel:
            cov = sum(l["attributed_ms"] for l in sel) / sum(l["mcp.handle_ms"] for l in sel)
            by_class[cls] = (cov, len(sel))
    return m, by_class, all_spans


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    try:
        b = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    cfg = WORKLOADS[a.workload]
    traced = a.trace == 1
    run_dir = os.path.join(build.OUT, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        b = dict(b, data=build.data_dir(cfg["data"]))
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    checker = Checker(b["data"])
    keys = oracle.key_ranges(checker.con)
    setups, server = [], None
    try:
        for i in range(1 if traced else SETUPS):
            if server:
                server.stop()
            server = mcp.Server(b, cfg["transport"], traced, os.path.join(run_dir, f"server{i}.log"))
            setups.append(start(server))
        warm, settle, warm_s, timed, wall = measure(server, a.workload, a.seed, a.seconds,
                                                    b["statements"], keys, traced)
        rss = server.peak_rss_mb()
        engine_ns = server.stderr_value("setup.engine_ns")
    finally:
        if server:
            server.stop()

    failures = check_all(checker, warm, settle, timed)
    attempted = sum(len(r.records) for r in warm + settle + timed)
    print(f"workload={a.workload} seed={a.seed} transport={cfg['transport']} "
          f"clients={cfg['clients']} cpus={mcp.cpus()} heap={mcp.HEAP} data={b['data']} "
          f"trace={a.trace}")
    if traced:
        metrics, by_class, spans = layer_metrics(timed, settle, warm, engine_ns)
        with open(os.path.join(run_dir, "spans.jsonl"), "w") as fh:
            for s in spans:
                fh.write(json.dumps(s) + "\n")
        for cls, (cov, n) in by_class.items():
            flag = "  <-- unattributed time" if cov < 0.9 else ""
            print(f"  trace.coverage[{cls}] = {cov:.3f} ratio (n={n}){flag}")
        extra = {}
    else:
        metrics, extra = e2e_metrics(setups, warm_s, timed, wall, rss)
    for k, (v, unit, n) in list(metrics.items()) + list(extra.items()):
        print(f"  {k} = {v:.6g} {unit} (n={n})")
    print(f"  fail_ratio = {len(failures) / attempted:.6g} ratio (n={attempted})")
    for label, why in failures[:50]:
        print(f"  FAIL {label}: {why}")
    out = {"correct": not failures, "attempted": attempted, "failed": len(failures),
           "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
