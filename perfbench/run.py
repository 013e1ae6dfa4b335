"""Search-engine benchmark: serving latency, freshness, and the index write
path, per named workload.

    python3 perfbench/run.py --workload serve_longtail --seed 1 --seconds 35 --trace 0

Workloads (perfbench/WORKLOADS.md says why each exists and how it is sized):
  serve_head      open loop over a popular-query pool that fits the result cache
  serve_longtail  open loop of nearly distinct OR/AND/highlight/page/phrase/fuzzy

The program is driven from outside: ``scripts/serve.py`` runs as its own
process and gets HTTP requests; the stores come from the engine's build and
merge functions (``perfbench/spark_jobs.py``), built once per checkout into
``.bench_build/`` and hard-link copied per run into a temporary directory
there, which is removed at exit.

With ``--trace 0`` the last stdout line is a JSON object with the end-to-end
metrics; with ``--trace 1`` the server runs under ``perfbench/traced_serve.py``
and the metrics are per-layer self times and counts (spans are written next
to the results in ``.bench_build/results/``). Every response is checked; the
run exits non-zero when any check fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import tempfile
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import numpy as np  # noqa: E402

import gen  # noqa: E402
from loadgen import http_get, open_loop, phase_stats, request_path  # noqa: E402

BUILD = ROOT / ".bench_build"
BASE_SEED = 20260  # the served base corpus is fixed; request streams follow --seed
BASE_CHUNKS = range(10)  # 10k docs
DELTA_CHUNK = 1000  # doc indices 1_000_000.. (new repos: repo1000..)
K = 20
CONNS = min(4, os.cpu_count() or 1)
SETUPS = 5
HEAD_POOL = 150  # < SearchApp.RESULT_CACHE_CAP (256)
DELETE_BATCHES = 25
DELETE_PER_BATCH = 3

# per workload: the nominal open-loop rate (1/s), at about a third of one
# server core or less (serve_head ~2.5 ms per request, serve_longtail ~60 ms
# mean), so a slow spell on a shared machine raises latency in proportion
# instead of building a queue
RATE = {"serve_head": 100, "serve_longtail": 5}
# reported next to the result, not gated: on serve_longtail it lies where the
# heavy kinds begin and moves with which terms a seed draws
TAIL_PCT = 80
TRACE_S = 20.0  # traced runs replay this much of the nominal phase
WINDOWS = 4  # the nominal phase's latency is the median over this many slices

REQUIRED = ("scripts/serve.py", "ucuddle_search_engine_spark/plans/build_index.py",
            "ucuddle_search_engine_spark/plans/merge.py")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# stores: built once per checkout, copied per run


def _cache_key() -> str:
    h = hashlib.sha256()
    files = sorted((ROOT / "ucuddle_search_engine_spark").rglob("*.py"))
    files += [HERE / "gen.py", HERE / "spark_jobs.py"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(repr((BASE_SEED, list(BASE_CHUNKS), DELTA_CHUNK)).encode())
    return h.hexdigest()[:16]


def ensure_stores() -> Path:
    """The base store, the base+delta merged store and their inputs, built by
    the engine on first use in this checkout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cache = BUILD / f"stores-{_cache_key()}"
    if (cache / "DONE").exists():
        return cache
    for old in BUILD.glob("stores-*"):
        shutil.rmtree(old)
    tmp = BUILD / f"building-{uuid.uuid4().hex[:8]}"
    tmp.mkdir(parents=True)
    try:
        log("building the benchmark stores (first run in this checkout)")
        pq.write_table(pa.Table.from_pylist(gen.corpus(BASE_SEED, BASE_CHUNKS)),
                       tmp / "corpus.parquet")
        pq.write_table(pa.Table.from_pylist(gen.corpus(BASE_SEED, [DELTA_CHUNK])),
                       tmp / "delta.parquet")
        run_logged([sys.executable, str(HERE / "spark_jobs.py"), "cache", "--dir", str(tmp)],
                   tmp)
        shutil.rmtree(tmp / "work", ignore_errors=True)
        (tmp / "DONE").write_text(json.dumps({"built_at": time.time()}))
        os.rename(tmp, cache)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return cache


def run_logged(cmd: list[str], cwd: Path) -> None:
    """Run a Spark-side step to completion; its output goes to cwd/job.log,
    whose tail is raised if the step fails."""
    logf = cwd / "job.log"
    with open(logf, "wb") as out:
        rc = subprocess.run(cmd, cwd=str(cwd), stdout=out, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        tail = logf.read_text(errors="replace")[-3000:]
        raise RuntimeError(f"{cmd[1:3]} failed with exit code {rc}:\n{tail}")


def link_copy(src: Path, dst: Path) -> None:
    """Hard-linked copy: stores are only ever added to, never edited in place."""
    shutil.copytree(src, dst, copy_function=os.link)


# --------------------------------------------------------------------------
# the server under test


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Server:
    """One scripts/serve.py process (or its traced launcher)."""

    def __init__(self, store: Path, work: Path, traced: bool):
        self.port = free_port()
        self.spans = work / f"spans-{self.port}.json"
        if traced:
            cmd = [sys.executable, str(HERE / "traced_serve.py"), "--spans", str(self.spans)]
        else:
            cmd = [sys.executable, str(ROOT / "scripts" / "serve.py")]
        cmd += ["--index", str(store), "--port", str(self.port)]
        self.log = open(work / f"serve-{self.port}.log", "wb")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=str(work), stdout=self.log, stderr=self.log)

    def wait_ready(self, timeout: float = 120.0) -> float:
        """Seconds from launch until /health answers."""
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"serve.py exited with {self.proc.returncode}")
            try:
                if http_get(self.port, "/health", timeout=5)[0] == 200:
                    return time.perf_counter() - self.t0
            except OSError:
                pass
            time.sleep(0.01)
        raise RuntimeError("serve.py did not become ready")

    def rss_peak_mb(self) -> float:
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("no VmHWM")

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.log.close()


def start_server(store: Path, work: Path, traced: bool, times: int) -> tuple[Server, float]:
    """Start the server `times` times (each to ready); keep the last one.
    Returns it and the median set-up time."""
    took = []
    for i in range(times):
        srv = Server(store, work, traced)
        try:
            took.append(srv.wait_ready())
        except BaseException:
            srv.stop()
            raise
        if i < times - 1:
            srv.stop()
    return srv, statistics.median(took)


# --------------------------------------------------------------------------
# references: the same SearchApp in CONNS worker processes
# (perfbench/reference.py), one client each, run once the server has
# stopped; every response is compared afterwards


def references(store: Path, reqs: list[dict], work: Path) -> dict:
    """Expected response body for each distinct request (by URL)."""
    distinct = {}
    for r in reqs:
        distinct.setdefault(request_path(r), r)
    keys = list(distinct)
    n = min(CONNS, len(keys))
    procs, out = [], {}
    try:
        for i in range(n):
            src, dst = work / f"ref-{i}.in.json", work / f"ref-{i}.out.json"
            src.write_text(json.dumps([distinct[k] for k in keys[i::n]]))
            procs.append((subprocess.Popen([sys.executable, str(HERE / "reference.py"),
                                            str(store), str(src), str(dst)], cwd=str(work)),
                          dst))
        for i, (proc, dst) in enumerate(procs):
            if proc.wait() != 0:
                raise RuntimeError(f"reference worker exited with {proc.returncode}")
            out.update(zip(keys[i::n], json.loads(dst.read_text())))
    finally:
        for proc, _ in procs:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    return out


class Checks:
    """Every failed or wrong operation, by kind; `attempted` counts all."""

    def __init__(self):
        self.attempted = 0
        self.failed: dict[str, int] = {}

    def add(self, ok: bool, kind: str, n: int = 1) -> bool:
        self.attempted += n
        if not ok and n:
            self.failed[kind] = self.failed.get(kind, 0) + n
        return ok


def verify(phases: list[dict], store: Path, work: Path) -> None:
    """Mark every response that differs from the reference as failed."""
    picked = [(ph, i) for ph in phases for i, ok in enumerate(ph["ok"]) if ok]
    ref = references(store, [ph["reqs"][i] for ph, i in picked], work)
    for ph, i in picked:
        if ph["bodies"][i] != ref[request_path(ph["reqs"][i])]:
            ph["ok"][i] = False


def account(phases: list[dict], checks: Checks) -> None:
    for ph in phases:
        bad = ph["ok"].count(False)
        checks.add(True, "response", len(ph["ok"]) - bad)
        checks.add(False, "response", bad)


# --------------------------------------------------------------------------
# workload phases


def exact_bm25_check(port: int, stores: Path, checks: Checks) -> None:
    """Term queries must rank and score like the exact BM25 path."""
    with open(stores / "exact_bm25.json") as f:
        sample = json.load(f)
    for item in sample:
        status, body = http_get(port, request_path({"q": item["q"], "k": K, "mode": item["mode"]}))
        got = [[h["doc_id"], h["score"]] for h in body] if status == 200 else None
        checks.add(got == item["hits"], "exact_bm25")


def _append_tombstones(store: Path, ids: list[int]) -> None:
    """The file scripts/admin.py delete-docs appends: doc_id longs, one parquet
    file under tombstones/, published with a rename."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    stage = store.parent / f".tomb-{uuid.uuid4().hex[:8]}"
    stage.mkdir()
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}),
                   stage / f"part-{uuid.uuid4().hex}.parquet")
    dest = store / "tombstones"
    if dest.exists():
        for f in stage.iterdir():
            os.rename(f, dest / f.name)
        stage.rmdir()
    else:
        os.rename(stage, dest)


def poll_until(port: int, req: dict, done, timeout: float = 30.0):
    """Re-send `req` back to back until done(body); returns the body."""
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < timeout:
        status, body = http_get(port, request_path(req))
        if status == 200 and done(body):
            return body
    raise RuntimeError(f"not visible after {timeout}s: {req['q']}")


class Freshness:
    """Deletes and the add-docs swap, observed through HTTP.

    A deleted doc is remembered by (repo, path) once seen gone; no later
    probe may return it, also after the swap. The swap publishes the merged
    (base + delta) store at the served path with the same docs tombstoned."""

    def __init__(self, store: Path, stores: Path, work: Path, port: int, rng, checks: Checks):
        self.store, self.stores, self.work, self.port = store, stores, work, port
        self.rng, self.checks = rng, checks
        self.gone: set[tuple[str, str]] = set()
        self.delete_s: list[float] = []
        self.new_repo = gen.corpus_chunk(BASE_SEED, DELTA_CHUNK)[0]["repo"].split("/")[1]

    def delete_batch(self) -> None:
        """Tombstone the hits of one doc's title query (rare terms, so the
        probe itself is cheap) and time until they stop coming back."""
        repo, local = gen._doc_key(int(self.rng.integers(len(BASE_CHUNKS) * gen.CHUNK)))
        probe = {"q": f"mod{local} {repo.split('/')[1]}", "k": K, "mode": "and"}
        status, body = http_get(self.port, request_path(probe))
        live = [h for h in body if (h["repo"], h["path"]) not in self.gone] if status == 200 else []
        batch = live[:DELETE_PER_BATCH]
        if not self.checks.add(bool(batch), "delete_probe"):
            return
        ids = {h["doc_id"] for h in batch}
        _append_tombstones(self.store, sorted(ids))
        t0 = time.perf_counter()  # the tombstone file is published
        poll_until(self.port, probe, lambda b: not any(h["doc_id"] in ids for h in b))
        self.delete_s.append(time.perf_counter() - t0)
        self.gone.update((h["repo"], h["path"]) for h in batch)

    def add_docs(self) -> None:
        """Publish the merged store, with the deleted docs tombstoned, at the
        served path; a probe for the delta's new repo must then return only
        delta docs."""
        import pyarrow.dataset as pds

        staged = self.work / "staged"
        link_copy(self.stores / "merged", staged)
        docs = pds.dataset(staged / "docs").to_table(columns=["doc_id", "repo", "path"])
        ids = [d for d, r, p in zip(docs["doc_id"].to_pylist(), docs["repo"].to_pylist(),
                                    docs["path"].to_pylist()) if (r, p) in self.gone]
        if ids:
            _append_tombstones(staged, ids)
        os.rename(self.store, self.work / "replaced")
        os.rename(staged, self.store)
        body = poll_until(self.port, {"q": self.new_repo, "k": K, "mode": "or"}, bool)
        self.checks.add(all(h["repo"].endswith("/" + self.new_repo) for h in body), "add_docs")

    def run(self) -> None:
        for _ in range(DELETE_BATCHES):
            self.delete_batch()
        self.add_docs()
        log("freshness done")

    def verify(self) -> None:
        self.recheck_gone()
        self.verify_store()

    def verify_store(self) -> None:
        """Per-row sha256(content) of the served docs equals the inputs'."""
        import pyarrow.dataset as pds
        import pyarrow.parquet as pq

        def digests(t):
            return {(r, p): hashlib.sha256(c.encode()).hexdigest()
                    for r, p, c in zip(t["repo"].to_pylist(), t["path"].to_pylist(),
                                       t["content"].to_pylist())}

        cols = ["repo", "path", "content"]
        want = {}
        for f in ("corpus.parquet", "delta.parquet"):
            want.update(digests(pq.read_table(self.stores / f, columns=cols)))
        got = digests(pds.dataset(self.store / "docs").to_table(columns=cols))
        self.checks.add(got == want, "store_sha256")

    def recheck_gone(self) -> None:
        """Query every deleted doc by its own title: it must stay gone."""
        import pyarrow.dataset as pds

        t = pds.dataset(self.store / "docs").to_table(columns=["repo", "path", "title"])
        for r, p, title in zip(t["repo"].to_pylist(), t["path"].to_pylist(),
                               t["title"].to_pylist()):
            if (r, p) in self.gone:
                status, body = http_get(self.port, request_path({"q": title, "k": K, "mode": "and"}))
                self.checks.add(status == 200 and not any(
                    (h["repo"], h["path"]) in self.gone for h in body), "tombstone_returned")


# --------------------------------------------------------------------------
# workloads


def make_requests(name: str, rng):
    """(request maker, untimed warm-up requests). serve_head warms with its
    whole pool (result cache filled); serve_longtail with one request of
    each kind (lazy fuzzy/phrase set-up done)."""
    if name == "serve_head":
        pool = gen.head_pool(int(rng.integers(1 << 31)), HEAD_POOL, K)
        return (lambda n: [pool[i] for i in gen.head_picks(rng, len(pool), n)]), pool
    phrase_docs = [r["content"] for r in gen.corpus_chunk(BASE_SEED, 0)[:200]]

    def make(n):
        return gen.longtail_requests(rng, n, K, phrase_docs)

    return make, [gen.longtail_request(rng, kind, K, phrase_docs) for kind, _ in gen.LONGTAIL_MIX]


def run_workload(name: str, seconds: float, rng, stores: Path, work: Path,
                 checks: Checks, traced: bool) -> dict:
    """Set-up, warm-up, the nominal phase, then freshness on the same server.

    Untraced, the server is started SETUPS times (set-up time is their
    median) and the last one is measured. Traced, the first TRACE_S seconds
    of the nominal phase run on an untraced and then on a traced server
    (their latency difference is the tracing overhead), and freshness runs
    on the traced one."""
    store, pristine = work / "live", work / "pristine"
    link_copy(stores / "base", store)
    link_copy(stores / "base", pristine)
    make, warmup = make_requests(name, rng)
    due = gen.arrivals(rng, RATE[name], min(seconds, TRACE_S) if traced else seconds)
    reqs = make(len(due))
    phases, nominal, out = [], [], {}
    for tracing in (False, True) if traced else (False,):
        srv, out["setup_s"] = start_server(store, work, tracing, 1 if traced else SETUPS)
        log(f"server ready, set-up {out['setup_s']:.3f} s")
        try:
            exact_bm25_check(srv.port, stores, checks)
            for rq, dq in ((warmup, [0.0] * len(warmup)), (reqs, due)):
                phases.append(dict(open_loop(srv.port, CONNS, rq, dq), reqs=rq))
            nominal.append(phases[-1])
            log(f"nominal rate {RATE[name]}/s done")
            if tracing == traced:
                out["rss_mb"] = srv.rss_peak_mb()
                fresh = Freshness(store, stores, work, srv.port, rng, checks)
                fresh.run()
                fresh.verify()
        finally:
            srv.stop()
    verify(phases, pristine, work)
    account(phases, checks)
    log("checks done")
    out["nominal"] = [phase_stats(ph, TAIL_PCT, WINDOWS) for ph in nominal]
    out["delete_s"] = fresh.delete_s
    if traced:
        out["spans"] = srv.spans
        out["window"] = (nominal[-1]["t0"], nominal[-1]["t_end"])
    return out


# --------------------------------------------------------------------------
# reporting


def store_layout(stores: Path) -> dict:
    """On-disk layout of the base store against its corpus's content bytes."""
    import pyarrow.parquet as pq

    store = stores / "base"
    files = [p for p in store.rglob("*") if p.is_file()]
    out = {f"store.{sub}_bytes": sum(p.stat().st_size for p in (store / sub).rglob("*")
                                     if p.is_file())
           for sub in ("docs", "segments", "postings", "tstats")}
    content = pq.read_table(stores / "corpus.parquet", columns=["content"])["content"]
    out["store.files"] = len(files)
    out["store.bytes_per_input_byte"] = (sum(p.stat().st_size for p in files)
                                         / sum(len(c.encode()) for c in content.to_pylist()))
    return out


def span_metrics(path: Path, window: tuple[float, float]) -> dict:
    """Per-request self times (ms) and counts over the requests the nominal
    phase sent (root span started inside `window`, a perf_counter interval
    the server shares), and the reloads that came after the phase."""
    with open(path) as f:
        data = json.load(f)
    spans = data["spans"]
    nominal = {req for name, t0, _, parent, req in spans
               if parent < 0 and name == "serve.http" and window[0] <= t0 <= window[1]}
    child = [0.0] * len(spans)
    for _, t0, t1, parent, _ in spans:
        if parent >= 0:
            child[parent] += t1 - t0
    self_s: dict[str, float] = {}
    calls: dict[str, int] = {}
    for (name, t0, t1, _, req), c in zip(spans, child):
        if req in nominal:
            self_s[name] = self_s.get(name, 0.0) + (t1 - t0) - c
            calls[name] = calls.get(name, 0) + 1
    counts: dict[str, float] = {}
    inflight = [0]
    for name, n, req in data["events"]:
        if req in nominal:
            if name == "mem.inflight":
                inflight.append(n)
            else:
                counts[name] = counts.get(name, 0) + n
    reload_s = [t1 - t0 for name, t0, t1, _, _ in spans
                if name == "serve.reload" and t0 > window[1]]
    n_req = max(1, len(nominal))

    def per_req_ms(*names):
        return 1e3 * sum(self_s.get(n, 0.0) for n in names) / n_req

    searches = calls.get("serve.search", 0)
    return {
        "serve.requests": len(nominal),
        "serve.http_ms": per_req_ms("serve.http"),
        "serve.search_ms": per_req_ms("serve.search", "serve.search_uncached"),
        "serve.hydrate_ms": per_req_ms("serve.hydrate"),
        "serve.result_cache_hit_ratio":
            1 - calls.get("serve.search_uncached", 0) / searches if searches else 0.0,
        "serve.reloads": len(reload_s),
        "serve.reload_ms": 1e3 * statistics.mean(reload_s) if reload_s else 0.0,
        "analyze.ms": per_req_ms("analyze"),
        "wand.search_ms": per_req_ms("wand.search"),
        "wand.calls": calls.get("wand.search", 0),
        "wand.terms_in": counts.get("wand.terms_in", 0) / max(1, calls.get("wand.search", 0)),
        "fuzzy.expand_ms": per_req_ms("fuzzy.expand"),
        "fuzzy.terms_out": counts.get("fuzzy.terms_out", 0) / max(1, calls.get("fuzzy.expand", 0)),
        "phrase.search_ms": per_req_ms("phrase.search"),
        "mem.admission_wait_ms": per_req_ms("mem.admission"),
        "mem.inflight_max": max(inflight),
    }


def per_layer(out: dict, stores: Path) -> dict:
    untraced, traced = out["nominal"]
    values = span_metrics(out["spans"], out["window"])
    values.update(store_layout(stores))
    values["loadgen.lag_p99_ms"] = 1e3 * traced["lag_p99_s"]
    values["trace.overhead_p50_pct"] = 100 * (traced["p50_s"] / untraced["p50_s"] - 1)
    values["trace.overhead_p80_pct"] = 100 * (traced["tail_s"] / untraced["tail_s"] - 1)
    return values


def end_to_end(out: dict, stores: Path) -> dict:
    nom = out["nominal"][-1]
    return {
        "setup_s": out["setup_s"],
        "query_p50_ms": 1e3 * nom["p50_s"],
        "serve_rss_mb": out["rss_mb"],
        "store_bytes_per_input_byte": store_layout(stores)["store.bytes_per_input_byte"],
    }


# --------------------------------------------------------------------------
# process hygiene: every process a run starts has ended before the run does


def adopt_orphans() -> None:
    """Become the subreaper of everything this run starts: a grandchild
    whose parent exits first (the Python workers of a Spark JVM, say) is
    re-parented here instead of to init, so reap_all() can wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        log("cannot become a subreaper; orphaned grandchildren are not waited for")


def children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == me:
                out.append(int(d))
    return out


def reap_all(grace: float = 10.0) -> None:
    """Terminate every child still running (SIGKILL after `grace` seconds)
    and wait until no child is left."""
    deadline = time.monotonic() + grace
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in children():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(RATE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=35.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds like an exception, so every finally below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    adopt_orphans()
    try:
        return bench(args)
    finally:
        reap_all()


def bench(args: argparse.Namespace) -> int:
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        log(f"program files missing: {', '.join(missing)}")
        return 2
    with open(ROOT / "BENCHMARK.json") as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    BUILD.mkdir(exist_ok=True)
    stores = ensure_stores()
    work = Path(tempfile.mkdtemp(prefix="run-", dir=BUILD))
    checks = Checks()
    rng = np.random.default_rng([args.seed, sorted(RATE).index(args.workload)])
    results = BUILD / "results"
    results.mkdir(exist_ok=True)
    stem = results / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    try:
        out = run_workload(args.workload, args.seconds, rng, stores, work, checks,
                           bool(args.trace))
        if args.trace:
            values = out["per_layer"] = per_layer(out, stores)
            # the Spark write path is the same for every workload; it runs
            # in serve_longtail's traced run (the shorter one), and reads as
            # 0 in the other
            spark = spark_write_path(stores, work) if args.workload == "serve_longtail" else {}
            values.update({k: spark.get(k, 0.0) for k in SPARK_METRICS})
            shutil.copy(out.pop("spans"), f"{stem}.spans.json")
        else:
            values = out["end_to_end"] = end_to_end(out, stores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out.update(attempted=checks.attempted, failed=checks.failed)
    with open(f"{stem}.json", "w") as f:
        json.dump(out, f, indent=1, default=str)
    n_failed = sum(checks.failed.values())
    print(f"workload={args.workload} seed={args.seed} attempted={checks.attempted} "
          f"failed={n_failed} error_ratio={n_failed / max(1, checks.attempted):.6f} "
          f"failed_by_kind={checks.failed}")
    if not args.trace:
        print(f"reported, not gated: query_p{TAIL_PCT}_ms = "
              f"{1e3 * out['nominal'][-1]['tail_s']:.6g} ms, "
              f"delete_visible_s = {statistics.median(out['delete_s']):.6g} s")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": not checks.failed, "attempted": checks.attempted,
                      "failed": n_failed, "metrics": metrics}))
    return 0 if not checks.failed else 1


SPARK_METRICS = tuple(
    [f"{lay}.{m}" for lay in ("ids", "postings", "segments", "build_index", "merge")
     for m in ("task_s", "cpu_s")]
    + ["spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
       "spark.shuffle_write_bytes", "spark.spill_bytes", "build_index.docs_per_s",
       "merge.add_docs_s"])


def spark_write_path(stores: Path, work: Path) -> dict:
    """The add-docs write path under Spark with the event log on."""
    d = work / "spark"
    d.mkdir()
    base = d / "base"
    link_copy(stores / "base", base)
    os.link(stores / "delta.parquet", d / "delta.parquet")
    out = d / "write.json"
    run_logged([sys.executable, str(HERE / "spark_jobs.py"), "write", "--dir", str(d),
                "--base", str(base), "--out", str(out)], d)
    with open(out) as f:
        stats = json.load(f)
    n_delta = gen.CHUNK
    stats["build_index.docs_per_s"] = n_delta / stats.pop("delta_build_s")
    stats["merge.add_docs_s"] = stats.pop("merge_s")
    return stats


if __name__ == "__main__":
    sys.exit(main())
