#!/usr/bin/env python3
"""Probe of a known server defect, kept out of the timed workloads: a
`list_tables` of the default schema that runs while another session's
MATCH_RECOGNIZE statement is being planned can list that statement's
transient `graft_mr_*` view.

  python3 perfbench/probe_mr_views.py --seconds 30

Over HTTP, one client loops a MATCH_RECOGNIZE statement while a second
lists the default schema's tables. Prints how many listings showed a
`graft_mr_*` view. Exit code 1: the defect showed; 0: it did not in
this many listings; 2: the probe could not build or run.
"""
import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pb import build, mcp, workloads as wl  # noqa: E402
from run import decode, start  # noqa: E402


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seconds", type=float, default=30)
    a = ap.parse_args(argv)
    try:
        b = dict(build.build(), data=build.data_dir("sf0.01"))
    except build.BuildError as e:
        print(f"[probe] {e}", file=sys.stderr)
        return 2
    run_dir = os.path.join(build.OUT, "runs", f"probe-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    server = mcp.Server(b, "http", False, os.path.join(run_dir, "server.log"))
    statements, listings, leaks, errors = 0, 0, [], []
    try:
        start(server)
        mr, lister = server.client(), server.client()
        mr.initialize()
        lister.initialize()
        deadline = time.monotonic() + a.seconds
        query = mcp.frame("mr", "tools/call", {"name": "execute_query",
                                               "arguments": {"query": wl.MR_SQL["mr_funnel"]}})

        def loop_mr():
            nonlocal statements
            try:
                while time.monotonic() < deadline:
                    decode(mr.call(query))
                    statements += 1
            except Exception as e:
                errors.append(e)
        t = threading.Thread(target=loop_mr)
        t.start()
        try:
            while time.monotonic() < deadline:
                _, rows, _ = decode(lister.call(mcp.frame(
                    "ls", "tools/call", {"name": "list_tables", "arguments": {}})))
                listings += 1
                leaks += [r[0] for r in rows if str(r[0]).startswith("graft_mr_")]
        finally:
            t.join()
        mr.close()
        lister.close()
        if errors:
            raise errors[0]
    except Exception as e:
        print(f"[probe] {e}", file=sys.stderr)
        return 2
    finally:
        server.stop()
    print(json.dumps({"mr_statements": statements, "listings": listings,
                      "listings_with_mr_view": len(leaks), "views": sorted(set(leaks))[:5]}))
    return 1 if leaks else 0


if __name__ == "__main__":
    sys.exit(main())
