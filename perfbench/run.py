"""Benchmark entry point: one seeded workload per run.

    python3 perfbench/run.py --workload batch_fuzzy --seed 1 --seconds 12 --trace 0

Run from the repository root. The seed generates every input
(``gen.py``); the program receives only the generated rows. The run
sets up (Spark session, first task wave, inputs, workload set-up),
measures for ``--seconds``, checks the outputs against brute-force
oracles and prints, as the last line of standard output, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics. The metric names and units come from ``BENCHMARK.json``. A
wrong result makes the command exit with code 1. See ``README.md``.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import http.client  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import queue  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from contextlib import redirect_stdout  # noqa: E402
from urllib.parse import quote  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import gen  # noqa: E402
from spans import JobGroups, Tracer, vm_hwm_mb  # noqa: E402

import prefixtree_spark  # noqa: E402,F401  (fails fast outside a checkout)

# ---- sizes (fixed: a run measures the same work on every commit) -----------
BATCH_WORDS, BATCH_QUERIES, BATCH_K = 10_000, 400, 2
ORACLE_SAMPLE = 60
CHURN_ROUNDS, CHURN_DELTA, CHURN_QUERIES = 2, 200, 20
SERVE_WORDS, SERVE_POOL = 5_000, 2_000
# open loop: the nominal rate sends 200 requests, so p95 has 10 samples
# beyond it. The rate stays at half of what the replica sustains when
# other work on the host halves its speed: near capacity an open loop's
# queue, and so its p50, swings from run to run. Traced runs add a
# ladder of higher rates, an eighth of --seconds each.
SERVE_NOMINAL_RPS, SERVE_NOMINAL_N = 10.0, 200
SERVE_LADDER_RPS = (20.0, 30.0, 45.0)
SERVE_P95_LIMIT_MS = 250.0
DEDUP_DOCS, DEDUP_THRESHOLD, DEDUP_RECALL_FLOOR = 2_500, 0.8, 0.99
DEDUP_CALLS = 3  # timed dedup_corpus calls in the traced run, after the warm-up
DRIVER_MEMORY = "3g"
MIN_CALLS = 3  # timed calls per run, however long each takes
# untimed calls before timing: the first calls of a fresh JVM are the
# slowest, and when the host is busy they are slower still, so timing
# them would add the host's load twice
WARMUP_CALLS = 3

# corpus_dedup is not a workload: on a shared host its call time spread
# too far from run to run (see README.md); its layers are measured in the
# traced batch_fuzzy run
WORKLOADS = ("batch_fuzzy", "point_serve")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(work: str) -> dict:
    """Pin the Spark environment before pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM (launcher and driver) keeps its temp files in the checkout
    jvm = "-XX:-UsePerfData" + ("" if " " in tmp else f" -Djava.io.tmpdir={tmp}")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "JAVA_TOOL_OPTIONS": jvm,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])),
    })
    import pyspark

    return {
        "cpus": cpu_count(), "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": DRIVER_MEMORY, "spark_local_dirs": "<checkout>/.perfbench_work",
        "pyspark": pyspark.__version__, "python": sys.version.split()[0],
    }


class Run:
    """State of one benchmark run: timings, metrics, check results."""

    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.tracer = Tracer(self.trace)
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.groups = None
        self.setup_s = None

    # -- bookkeeping ------------------------------------------------------
    def check(self, ok: bool, what: str, n: int = 1) -> None:
        """Count ``n`` checked operations; all fail when ``ok`` is false."""
        self.attempted += n
        if not ok:
            self.failed += n
            self.problems.append(what)

    def start_spark(self) -> None:
        with self.tracer.span("session.get_spark"):
            t = time.perf_counter()
            from prefixtree_spark.session import get_spark

            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.layer["session.get_spark_s"] = time.perf_counter() - t
        self.groups = JobGroups(self.spark.sparkContext, self.trace)
        with self.tracer.span("session.first_wave"):
            t = time.perf_counter()
            n = cpu_count()
            self.spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").count()
            self.layer["session.first_wave_s"] = time.perf_counter() - t

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - T0

    def read_counters(self) -> None:
        """Spark work counters of every traced layer; read once, before
        the session stops, after the status listener has caught up."""
        if not self.trace:
            return
        time.sleep(1.0)
        for layer in ("build", "query", "incremental", "dedup"):
            c = self.groups.counts(layer)
            keys = ("jobs", "stages", "tasks", "failed_tasks") if layer == "query" else (
                "jobs", "tasks", "failed_tasks")
            for k in keys:
                self.layer[f"{layer}.{k}"] = c[k]

    def build(self, words: list[str]):
        """create() until the node table is materialized and counted."""
        from prefixtree_spark import create

        vdf = self.spark.createDataFrame([(w,) for w in words], "w string")
        with self.groups.group("build"), self.tracer.span("build.create"):
            t = time.perf_counter()
            pt = create(vdf, "w").cache()
            nodes = pt.count()
            self.layer["build.create_s"] = time.perf_counter() - t
        self.layer["build.words"] = len(words)
        self.layer["build.nodes"] = nodes
        self.layer["build.nodes_per_word"] = nodes / len(words)
        return pt, nodes

    def build_layout(self, pt, nodes: int) -> None:
        if self.trace:
            per = pt.groupBy("compute_node").count().collect()
            self.layer["build.max_partition_share"] = max(r["count"] for r in per) / nodes

    def levenshtein_kernel(self) -> None:
        """extend_rows on a fixed seeded batch: DP cells per second."""
        if not self.trace:
            return
        import numpy as np
        from prefixtree_spark.functions.levenshtein import QueryBatch, extend_rows

        v = gen.vocabulary(0, 2_000)
        batch = QueryBatch(gen.perturbed_queries(0, v, 256))
        idx = np.arange(len(batch))
        rows0 = batch.initial_rows(idx)
        labels = [w[:4] for w in v[:600]]
        with self.tracer.span("levenshtein.extend_rows"):
            t = time.perf_counter()
            cells = 0
            for lab in labels:
                extend_rows(batch, rows0, idx, lab)
                cells += len(lab) * rows0.shape[0] * rows0.shape[1]
            self.layer["levenshtein.cells_per_s"] = cells / (time.perf_counter() - t)

    def timed_loop(self, fn, digest) -> tuple[int, set, object, float]:
        """Call ``fn`` until ``--seconds`` have passed (at least
        ``MIN_CALLS`` times). Returns the number of calls, the set of
        ``digest(result)`` over all calls, the last result, and the median
        seconds over all calls (the warm-up calls before it are not
        timed). Only the last result is kept, so the driver's memory does
        not grow with the number of calls."""
        secs, digests, r = [], set(), None
        t_end = time.perf_counter() + self.args.seconds
        while len(secs) < MIN_CALLS or time.perf_counter() < t_end:
            t = time.perf_counter()
            r = fn()
            secs.append(time.perf_counter() - t)
            digests.add(digest(r))
        print(json.dumps({"calls_s": secs}))
        return len(secs), digests, r, statistics.median(secs)


# ---------------------------------------------------------------------------
# batch_fuzzy: create + batch query (the Thor analog)
# ---------------------------------------------------------------------------

def batch_fuzzy(run: Run) -> None:
    from prefixtree_spark import query

    seed = run.args.seed
    run.start_spark()
    words = gen.vocabulary(seed, BATCH_WORDS)
    qs = gen.perturbed_queries(seed, words, BATCH_QUERIES)
    pt, nodes = run.build(words)
    qdf = run.spark.createDataFrame([(q,) for q in qs], "q string").cache()
    qdf.count()
    with run.tracer.span("query.warmup"):
        for _ in range(WARMUP_CALLS):
            query(pt, qdf, "q", BATCH_K).collect()
    run.end_setup()

    def call():
        with run.groups.group("query"), run.tracer.span("query.call"):
            return query(pt, qdf, "q", BATCH_K).collect()

    n_calls, hashes, rows, call_s = run.timed_loop(
        call, lambda res: checks.result_hash((r[0], r[1], r[2]) for r in res))
    run.e2e["throughput"] = len(qs) / call_s
    run.e2e["latency_p50_ms"] = call_s * 1e3
    run.e2e["peak_rss_mb"] = vm_hwm_mb()
    run.layer.update({"query.call_s": call_s, "query.queries": len(qs),
                      "query.rows": len(rows), "query.rows_per_query": len(rows) / len(qs)})

    # checks: repeat hashes, sampled oracle, and corrupted copies caught
    run.check(len(hashes) == 1, "batch results differ across repeats", n_calls)
    run.check(len({(r[0], r[1]) for r in rows}) == len(rows),
              "a batch result repeats a (query, word) row")
    sample = sorted(random.Random(f"oracle:{seed}").sample(qs, ORACLE_SAMPLE))
    want = checks.fuzzy_oracle(words, sample, BATCH_K)
    got = checks.group_rows(((r[0], r[1], r[2]) for r in rows), sample)
    bad = checks.mismatches(got, want)
    run.check(not bad, f"batch results differ from the oracle for {bad[:5]}", len(sample))
    for corrupted in checks.corruptions(got):
        run.check(bool(checks.mismatches(corrupted, want)),
                  "a corrupted batch result passed the oracle check")

    if run.trace:
        run.build_layout(pt, nodes)
        from prefixtree_spark import LocalIndex

        index = LocalIndex(pt.toPandas())
        with run.tracer.span("query.driver_traverse"):
            t = time.perf_counter()
            index.search_many(qs, BATCH_K)
            drv = time.perf_counter() - t
        run.layer["query.driver_traverse_s"] = drv
        run.layer["query.spark_overhead"] = run.layer["query.call_s"] * cpu_count() / drv
        index_churn(run, pt, words, nodes)
        corpus_dedup(run)


def plan_lines(df) -> int:
    """Line count of a frame's parsed logical plan (public explain())."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="extended")
    text = buf.getvalue().split("== Analyzed Logical Plan ==")[0]
    return len([ln for ln in text.splitlines()[1:] if ln.strip()])


def index_churn(run: Run, pt, words: list[str], nodes: int) -> None:
    """Chained add_words/remove_words rounds, each followed by a small
    verification query at k=1 (traced batch_fuzzy runs only)."""
    from prefixtree_spark import add_words, query, remove_words

    seed = run.args.seed
    spark = run.spark
    deltas = gen.churn_deltas(seed, words, CHURN_ROUNDS, CHURN_DELTA)
    current = set(words)
    vq = gen.perturbed_queries(seed, words, CHURN_QUERIES, stream="verify")
    vdf = spark.createDataFrame([(q,) for q in vq], "q string")
    cur, prev_nodes, fresh = pt, nodes, []
    for r, (add, rem) in enumerate(deltas, 1):
        adf = spark.createDataFrame([(w,) for w in add], "w string")
        rdf = spark.createDataFrame([(w,) for w in rem], "w string")
        with run.groups.group("incremental"):
            t0 = time.perf_counter()
            with run.tracer.span("incremental.add", round=r):
                cur = add_words(cur, adf, "w")
            t1 = time.perf_counter()
            with run.tracer.span("incremental.remove", round=r):
                cur = remove_words(cur, rdf, "w")
            t2 = time.perf_counter()
            with run.tracer.span("query.fresh", round=r):
                rows = query(cur, vdf, "q", 1).collect()
            t3 = time.perf_counter()
        current = (current | set(add)) - set(rem)
        n = cur.count()
        fresh.append(t3 - t0)
        run.layer.update({f"incremental.add_s.r{r}": t1 - t0,
                          f"incremental.remove_s.r{r}": t2 - t1,
                          f"query.fresh_s.r{r}": t3 - t2,
                          f"incremental.plan_lines.r{r}": plan_lines(cur),
                          f"incremental.nodes_delta.r{r}": n - prev_nodes})
        prev_nodes = n
        want = checks.fuzzy_oracle(sorted(current), vq, 1)
        bad = checks.mismatches(checks.group_rows(rows, vq), want)
        run.check(not bad, f"round {r} results differ from the oracle for {bad[:5]}", len(vq))
    run.layer["incremental.freshness_s"] = statistics.fmean(fresh)


# ---------------------------------------------------------------------------
# point_serve: publish + Spark-free replica under open-loop HTTP load
# ---------------------------------------------------------------------------

class Replica:
    """The replica subprocess (``replica.py``), one JSON line per command."""

    def __init__(self, trace: bool):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "replica.py"), "--trace", str(int(trace))],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT)

    def call(self, *cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.read()

    def read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"replica exited with code {self.proc.wait()}")
        return json.loads(line)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


def url(req) -> str:
    path, q, k = req
    if path == "/prefix":
        return f"/prefix?p={quote(q)}"
    return f"/search?q={quote(q)}&k={k}"


class LoadGen:
    """One generator process; each of its threads holds one keep-alive
    connection to the replica (``conns`` of them in an open loop)."""

    def __init__(self, port: int, conns: int):
        self.port, self.conns = port, conns

    def _connection(self):
        return http.client.HTTPConnection("127.0.0.1", self.port, timeout=30)

    def _send(self, conn, req):
        """(status, body, conn) — on a transport error, status 0 and a
        fresh connection."""
        try:
            conn.request("GET", url(req))
            resp = conn.getresponse()
            return resp.status, resp.read(), conn
        except (OSError, http.client.HTTPException):
            conn.close()
            return 0, b"", self._connection()

    def closed_loop(self, reqs, seconds: float, conns: int) -> tuple[float, list]:
        """``conns`` connections each send their next request when the
        previous one returns, for ``seconds``; returns (completions/s,
        records)."""
        it = iter(range(len(reqs) * 1000))
        lock = threading.Lock()
        recs = []
        t_end = time.perf_counter() + seconds

        def worker():
            conn = self._connection()
            while time.perf_counter() < t_end:
                with lock:
                    i = next(it) % len(reqs)
                t = time.perf_counter()
                status, body, conn = self._send(conn, reqs[i])
                with lock:
                    recs.append((i, t, time.perf_counter(), status, body))
            conn.close()

        t0 = time.perf_counter()
        ths = [threading.Thread(target=worker) for _ in range(conns)]
        for th in ths:
            th.start()
        for th in ths:
            th.join(timeout=seconds + 60)
        return len(recs) / (max(r[2] for r in recs) - t0), recs

    def open_loop(self, reqs, rate: float) -> dict:
        """Send request i at t0 + i/rate regardless of completions;
        latency counts from the scheduled time."""
        n = len(reqs)
        work: queue.Queue = queue.Queue()
        sched = [0.0] * n
        recs = [None] * n
        backlog_max = 0

        def worker():
            conn = self._connection()
            while True:
                i = work.get()
                if i is None:
                    break
                t = time.perf_counter()
                status, body, conn = self._send(conn, reqs[i])
                recs[i] = (t, time.perf_counter(), status, body)
            conn.close()

        ths = [threading.Thread(target=worker) for _ in range(self.conns)]
        for th in ths:
            th.start()
        t0 = time.perf_counter() + 0.01
        for i in range(n):
            sched[i] = t0 + i / rate
            delay = sched[i] - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            backlog_max = max(backlog_max, work.qsize())
            work.put(i)
        backlog_end = work.qsize()
        for _ in ths:
            work.put(None)
        for th in ths:
            th.join(timeout=120)
        lat = [(r[1] - s) * 1e3 for r, s in zip(recs, sched) if r]
        qd = [(r[0] - s) * 1e3 for r, s in zip(recs, sched) if r]
        ok = sum(1 for r in recs if r and r[2] == 200)
        return {"reqs": reqs, "recs": recs, "sched": sched, "lat_ms": lat, "queue_ms": qd, "ok": ok,
                "sent": n, "backlog_max": backlog_max, "backlog_end": backlog_end,
                "p50": pct(lat, 50), "p95": pct(lat, 95)}


def passes(phase: dict, conns: int) -> bool:
    """A rate is met when nothing failed, p95 is within the limit and
    the backlog did not grow past one request per connection."""
    return (phase["ok"] == phase["sent"] and phase["p95"] <= SERVE_P95_LIMIT_MS
            and phase["backlog_end"] <= conns)


def pct(xs, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(p / 100 * len(s) + 0.5)) - 1))] if s else float("nan")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def point_serve(run: Run, work: str) -> None:
    from prefixtree_spark.operators.build import publish_index

    seed = run.args.seed
    replica = Replica(run.trace)  # imports overlap the Spark start-up
    try:
        run.start_spark()
        words = gen.vocabulary(seed, SERVE_WORDS)
        pool = gen.request_pool(seed, words, SERVE_POOL)
        n_total = SERVE_NOMINAL_N + 20 + int(sum(SERVE_LADDER_RPS) * run.args.seconds / 8) + 3
        reqs = gen.serve_requests(seed, pool, n_total)
        pt, nodes = run.build(words)
        root = os.path.join(work, "published")
        with run.groups.group("sources"), run.tracer.span("sources.publish"):
            t = time.perf_counter()
            publish_index(pt, root)
            run.layer["sources.publish_s"] = time.perf_counter() - t
        run.layer["sources.published_bytes"] = dir_bytes(root)
        run.build_layout(pt, nodes)
        run.read_counters()
        replica.read()  # imported
        with run.tracer.span("local_index.load"):
            ready = replica.call("load", root)
        run.layer["local_index.load_s"] = ready["load_s"]
        run.layer["local_index.nodes"] = ready["nodes"]
        run.end_setup()

        S = run.args.seconds
        conns = cpu_count()
        lg = LoadGen(ready["port"], conns)
        cursor = 0

        def take(n):
            nonlocal cursor
            cursor += n
            return reqs[cursor - n:cursor]

        with run.tracer.span("serving.warmup"):
            lg.closed_loop(take(20), 0.5, conns)
        nominal_reqs = take(SERVE_NOMINAL_N)
        with run.tracer.span("serving.nominal") as nominal_span:
            nom = lg.open_loop(nominal_reqs, SERVE_NOMINAL_RPS)
        # one keep-alive client sending back-to-back: the rate a caller
        # looping over lookups gets
        with run.tracer.span("serving.client"):
            client_rps, client_recs = lg.closed_loop(reqs[:SERVE_NOMINAL_N], S / 3, 1)
        run.e2e["throughput"] = client_rps
        run.e2e["latency_p50_ms"] = nom["p50"]
        run.layer.update({
            "serving.search_p95_ms": nom["p95"],
            "serving.queue_p95_ms": pct(nom["queue_ms"], 95),
            "serving.backlog_max.nominal": nom["backlog_max"],
            "serving.connections": conns,
        })
        phases, closed = [nom], list(client_recs)
        if run.trace:
            # the rate ladder and the all-connections capacity
            max_rps = SERVE_NOMINAL_RPS if passes(nom, conns) else 0.0
            for j, rate in enumerate(SERVE_LADDER_RPS, 1):
                with run.tracer.span("serving.ladder", step=j, rate=rate):
                    step = lg.open_loop(take(int(rate * S / 8)), rate)
                phases.append(step)
                run.layer[f"serving.backlog_max.s{j}"] = step["backlog_max"]
                if passes(step, conns):
                    max_rps = max(max_rps, rate)
            run.layer[f"serving.max_rps.p95_le_{int(SERVE_P95_LIMIT_MS)}ms"] = max_rps
            with run.tracer.span("serving.capacity"):
                cap_rps, cap_recs = lg.closed_loop(reqs[:SERVE_NOMINAL_N], S / 6, conns)
            run.layer["serving.capacity_rps"] = cap_rps
            closed += cap_recs
        sent = sum(p["sent"] for p in phases)
        ok = sum(p["ok"] for p in phases)
        run.layer.update({"serving.sent": sent, "serving.ok": ok, "serving.failed": sent - ok})

        # checks: every measured response against the oracle
        answered = [(req, r) for p in phases for req, r in zip(p["reqs"], p["recs"])]
        answered += [(reqs[i], (t, e, st, b)) for i, t, e, st, b in closed]
        wrong, failed = serve_check(words, answered)
        run.layer["serving.wrong"] = wrong
        run.attempted += len(answered)
        run.failed += wrong + failed
        if wrong or failed:
            run.problems.append(f"{failed} requests failed, {wrong} responses differ "
                                f"from the oracle")
        bodies: dict = {}
        for req, r in answered:
            if r and r[2] == 200:
                bodies.setdefault(req, set()).add(r[3])
        run.check(all(len(b) == 1 for b in bodies.values()),
                  "identical requests got different responses")
        # a served hit list with a bogus word, and one with a repeated hit
        probe = next((req, json.loads(r[3])) for req, r in answered
                     if r and r[2] == 200 and req[0] == "/search" and r[3] != b"[]")
        for hits in (probe[1] + [["#corrupt#", 0]], probe[1] + probe[1][:1]):
            bad = (probe[0], (0, 0, 200, json.dumps(hits).encode()))
            run.check(serve_check(words, [bad])[0] == 1,
                      "a corrupted response passed the oracle check")

        if run.trace:
            ins = os.path.join(work, "replay.json")
            with open(ins, "w") as f:
                json.dump(nominal_reqs, f)
            with run.tracer.span("local_index.replay"):
                replica.call("replay", ins, ins + ".out")
            with open(ins + ".out") as f:
                inproc = json.load(f)
            search = [t * 1e3 for t, q in zip(inproc, nominal_reqs) if q[0] == "/search"]
            prefix = [t * 1e3 for t, q in zip(inproc, nominal_reqs) if q[0] == "/prefix"]
            over = [(r[1] - r[0] - t) * 1e3 for r, t in zip(nom["recs"], inproc) if r]
            hits = [len(json.loads(r[3])) for r in nom["recs"] if r and r[2] == 200]
            run.layer.update({
                "local_index.search_p50_ms": pct(search, 50),
                "local_index.search_p95_ms": pct(search, 95),
                "local_index.prefix_p50_ms": pct(prefix, 50),
                "local_index.hits_per_request": statistics.fmean(hits),
                "serving.overhead_p50_ms": pct(over, 50),
            })
            for i, ((t, e, st, _b), s, req) in enumerate(zip(nom["recs"], nom["sched"],
                                                              nominal_reqs)):
                run.tracer.add("serving.request", s, e, rid=i, parent=nominal_span,
                               sent=t, status=st, q=req[1], k=req[2])
        spans_path = os.path.join(work, "replica-spans.jsonl") if run.trace else None
        done = replica.call("stop", *([spans_path] if spans_path else []))
        # the serving program's memory: the replica's peak RSS
        run.e2e["peak_rss_mb"] = done["vm_hwm_mb"]
        run.layer["local_index.replica_rss_mb"] = done["vm_hwm_mb"]
        if spans_path:
            with open(spans_path) as f:
                add_replica_spans(run.tracer, [json.loads(line) for line in f])
    finally:
        replica.close()


def add_replica_spans(tracer: Tracer, spans: list[dict]) -> None:
    """Merge the replica's lookup spans (its clock is the same system-wide
    monotonic clock). Each lookup nests under the request it served: the
    nominal-phase request for the same (q, k) that was in flight when it
    ran, or else the innermost benchmark span around it (a phase of
    unrecorded requests); the request's id becomes the lookup's."""
    requests = [s for s in tracer.spans if s["name"] == "serving.request"]
    phases = [s for s in tracer.spans if s["name"].startswith("serving.") and s not in requests]
    for s in spans:
        k = s.get("k", 0)
        req = next((r for r in requests if r["q"] == s["q"] and r["k"] == k
                    and r["sent"] <= s["start"] and s["end"] <= r["end"]), None)
        if req is None:
            around = [p for p in phases if p["start"] <= s["start"] and s["end"] <= p["end"]]
            parent = max(around, key=lambda p: p["start"])["id"] if around else None
            rid = None
        else:
            parent, rid = req["id"], req["rid"]
        tracer.add(s["name"], s["start"], s["end"], rid=rid, parent=parent,
                   process="replica", q=s["q"], k=k)


def serve_check(words, answered) -> tuple[int, int]:
    """(wrong, failed) over ``[(request, record)]``; record[2] is the
    HTTP status and record[3] the body."""
    failed = sum(1 for _, r in answered if not r or r[2] != 200)
    ok = [(req, r[3]) for req, r in answered if r and r[2] == 200]
    want = {}
    for k in (1, 2):
        qs = sorted({q for (p, q, kk), _ in ok if p == "/search" and kk == k})
        for q, v in checks.fuzzy_oracle(words, qs, k).items():
            want[("/search", q, k)] = v
    prefixes = sorted({q for (p, q, _), _ in ok if p == "/prefix"})
    for p, v in checks.prefix_oracle(words, prefixes).items():
        want[("/prefix", p, 0)] = v
    wrong = 0
    for req, body in ok:
        try:
            got = json.loads(body)
        except ValueError:
            wrong += 1
            continue
        if req[0] == "/search":
            got = sorted((w, int(d)) for w, d in got)
        wrong += got != want[req]
    return wrong, failed


# ---------------------------------------------------------------------------
# corpus_dedup: MinHash-LSH near-dup removal (the pipeline layer), traced
# batch_fuzzy runs only
# ---------------------------------------------------------------------------

def corpus_dedup(run: Run) -> None:
    """dedup_corpus on the planted-duplicate corpus, then its two stages
    alone: minhash_lsh_pairs and connected_components on the LSH edges."""
    from prefixtree_spark.operators.dedup import dedup_corpus, minhash_lsh_pairs
    from prefixtree_spark.operators.graph import connected_components
    from pyspark.sql import functions as F

    seed = run.args.seed
    docs, planted = gen.corpus(seed, DEDUP_DOCS)
    ddf = run.spark.createDataFrame(docs, "doc_id long, text string").cache()
    ddf.count()

    def call():
        out = dedup_corpus(ddf, "doc_id", "text", threshold=DEDUP_THRESHOLD)
        return [r[0] for r in out.select("doc_id").collect()]

    with run.tracer.span("dedup.warmup"):
        for _ in range(WARMUP_CALLS):
            call()
    secs, hashes = [], set()
    for _ in range(DEDUP_CALLS):
        with run.groups.group("dedup"), run.tracer.span("dedup.corpus"):
            t = time.perf_counter()
            kept = call()
            secs.append(time.perf_counter() - t)
        hashes.add(checks.result_hash((i,) for i in kept))
    call_s = statistics.median(secs)
    run.layer.update({"dedup.corpus_s": call_s, "dedup.docs_per_s": len(docs) / call_s,
                      "dedup.survivors": len(kept)})

    run.check(len(hashes) == 1, "dedup results differ across repeats", DEDUP_CALLS)
    removable, edges = checks.expected_dedup(docs, planted, DEDUP_THRESHOLD)
    all_ids = {i for i, _ in docs}

    def verdict(survivors: list) -> tuple[bool, str]:
        removed = all_ids - set(survivors)
        recall = len(removed & removable) / max(1, len(removable))
        dups = len(survivors) - len(set(survivors))
        return (removed <= removable and recall >= DEDUP_RECALL_FLOOR and not dups,
                f"dedup removed {len(removed - removable)} unplanted docs, kept {dups} "
                f"twice, recall {recall:.4f} (floor {DEDUP_RECALL_FLOOR})")

    good, what = verdict(kept)
    run.check(good, what, len(docs))
    # a removed original, and a survivor listed twice, must both be caught
    for corrupted in ([i for i in kept if i != min(set(kept) - removable)], kept + kept[:1]):
        run.check(not verdict(corrupted)[0], "a corrupted dedup result passed the check")

    with run.groups.group("dedup"), run.tracer.span("dedup.lsh_pairs"):
        t = time.perf_counter()
        pairs = minhash_lsh_pairs(ddf, "doc_id", "text", threshold=DEDUP_THRESHOLD)
        pair_rows = [(r["id1"], r["id2"]) for r in pairs.collect()]
        run.layer["dedup.lsh_pairs_s"] = time.perf_counter() - t
    text = dict(docs)
    sh = {}

    def jac(a, b):
        for i in (a, b):
            if i not in sh:
                sh[i] = checks.shingles(text[i])
        return checks.jaccard(sh[a], sh[b])

    precise = sum(1 for a, b in pair_rows if jac(a, b) >= DEDUP_THRESHOLD)
    found = set(pair_rows)
    run.layer.update({
        "dedup.pairs": len(pair_rows),
        "dedup.pair_precision": precise / max(1, len(pair_rows)),
        "dedup.planted_recall": sum(1 for e in edges if e in found) / max(1, len(edges)),
    })
    run.check(precise == len(pair_rows), "LSH emitted pairs below the threshold",
              len(pair_rows))
    edf = pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    nodes = edf.select(F.col("src").alias("node")).unionByName(
        edf.select(F.col("dst").alias("node"))).distinct()
    with run.groups.group("graph"), run.tracer.span("graph.components"):
        t = time.perf_counter()
        labels = connected_components(nodes, edf).collect()
        run.layer["graph.components_s"] = time.perf_counter() - t
    run.layer["graph.edges"] = len(pair_rows)
    run.layer["graph.components"] = len({r["component"] for r in labels})


# ---------------------------------------------------------------------------

def metric_specs() -> tuple[list, list]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def emit(run: Run, out_dir: str, env: dict) -> dict:
    e2e_spec, layer_spec = metric_specs()
    run.e2e["setup_s"] = run.setup_s
    run.layer["run.error_rate"] = run.failed / max(1, run.attempted)
    w, seed = run.args.workload, run.args.seed
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, f"{w}-seed{seed}")
    if not run.trace:
        with open(base + "-untraced.json", "w") as f:
            json.dump(run.e2e, f)
        spec, values = e2e_spec, run.e2e
    else:
        spec, values = layer_spec, run.layer
        untraced = None
        if os.path.exists(base + "-untraced.json"):
            with open(base + "-untraced.json") as f:
                untraced = json.load(f)
        self_s = run.tracer.self_times()
        report = {
            "workload": w, "seed": seed, "env": env,
            "self_s": self_s,
            "ratios": {
                "build.nodes_per_word": {"value": run.layer.get("build.nodes_per_word"),
                                         "base": "build.words"},
                "query.rows_per_query": {"value": run.layer.get("query.rows_per_query"),
                                         "base": "query.queries"},
                "query.spark_overhead": {"value": run.layer.get("query.spark_overhead"),
                                         "base": "query.driver_traverse_s x cpus"},
                "dedup.pair_precision": {"value": run.layer.get("dedup.pair_precision"),
                                         "base": "dedup.pairs"},
                "dedup.docs_per_s": {"value": run.layer.get("dedup.docs_per_s"),
                                     "base": f"{DEDUP_DOCS} documents"},
                "run.error_rate": {"value": run.layer["run.error_rate"],
                                   "base": f"{run.attempted} operations"},
            },
            "traced_e2e": run.e2e,
            "tracing_overhead": (
                {k: run.e2e[k] - untraced[k] for k in run.e2e if k in untraced}
                if untraced else "no untraced run of this workload and seed in .perfbench_out"),
        }
        run.tracer.write(base + "-spans.jsonl")
        with open(base + "-trace.json", "w") as f:
            json.dump(report, f, indent=1, default=str)
        print(json.dumps({"trace_report": report}, default=str))
    unused = sorted(set(values) - {m["name"] for m in spec})
    if unused:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {unused}")
    # a layer the workload does not reach reports zero work
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM that pyspark launched: it
    exits when its stdin pipe closes."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description="prefixtree_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    metric_specs()  # BENCHMARK.json must be there
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    run = Run(args)
    try:
        env = pin_env(work)
        env.update({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace})
        print(json.dumps({"env": env}))
        if args.workload == "point_serve":
            point_serve(run, work)
        else:
            batch_fuzzy(run)
        if run.spark is not None:
            run.read_counters()
        run.levenshtein_kernel()
        metrics = emit(run, os.path.join(ROOT, ".perfbench_out"), env)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    correct = run.failed == 0 and not run.problems
    for p in run.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
