"""Spark-free serving replica for the point_serve workload.

Started by ``run.py`` at the beginning of the run so its imports overlap
the Spark start-up; driven by one command per stdin line (a JSON list), answering one
JSON line on stdout per command:

    load <root>         load_local_index_published(root), start a
                        PrefixTreeServer on a free localhost port
                        -> {"port", "load_s", "nodes"}
    replay <in> <out>   run the request list in <in> (JSON) in-process,
                        with no HTTP, and write per-request seconds
    stop [<spans>]      stop the server, write the spans (traced run)
                        -> {"vm_hwm_mb", "calls"}

With ``--trace 1`` every ``LocalIndex.search`` / ``search_prefix`` call
the server makes is recorded as a span.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from prefixtree_spark import PrefixTreeServer, load_local_index_published  # noqa: E402
from spans import Tracer, vm_hwm_mb  # noqa: E402


class TracedIndex:
    """Forwards to a LocalIndex, recording a span per lookup."""

    def __init__(self, index, tracer: Tracer):
        self._index = index
        self._tracer = tracer
        self._rid = itertools.count()

    def __getattr__(self, name):
        return getattr(self._index, name)

    def search(self, s, k):
        t0 = time.perf_counter()
        out = self._index.search(s, k)
        self._tracer.add("local_index.search", t0, time.perf_counter(),
                         rid=next(self._rid), q=s, k=int(k))
        return out

    def search_prefix(self, p):
        t0 = time.perf_counter()
        out = self._index.search_prefix(p)
        self._tracer.add("local_index.prefix", t0, time.perf_counter(),
                         rid=next(self._rid), q=p)
        return out


def run_request(index, req) -> None:
    path, q, k = req
    if path == "/prefix":
        index.search_prefix(q)
    else:
        index.search(q, k)


def main() -> None:
    ap = argparse.ArgumentParser(description="point_serve replica")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    tracer = Tracer(bool(args.trace))
    server = index = None

    def reply(obj) -> None:
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    reply({"imported": True})
    for line in sys.stdin:
        cmd, *rest = json.loads(line)
        if cmd == "load":
            t0 = time.perf_counter()
            index, _version = load_local_index_published(rest[0])
            load_s = time.perf_counter() - t0
            served = TracedIndex(index, tracer) if tracer.on else index
            server = PrefixTreeServer(served).start()
            reply({"port": server.address[1], "load_s": load_s, "nodes": int(len(index.ids))})
        elif cmd == "replay":
            with open(rest[0]) as f:
                reqs = json.load(f)
            times = []
            for req in reqs:
                t0 = time.perf_counter()
                run_request(index, req)
                times.append(time.perf_counter() - t0)
            with open(rest[1], "w") as f:
                json.dump(times, f)
            reply({"replayed": len(times)})
        elif cmd == "stop":
            if server is not None:
                server.stop()
            if rest:
                tracer.write(rest[0])
            reply({"vm_hwm_mb": vm_hwm_mb(), "calls": len(tracer.spans)})
            return


if __name__ == "__main__":
    main()
