"""Spark side of the benchmark: the index write path, driven through the
engine's public functions, in its own process.

    python perfbench/spark_jobs.py cache  --dir D   # base + delta + merged stores
    python perfbench/spark_jobs.py write  --dir D --base S --out J

``cache`` builds the stores the serving workloads run on: the base store
(``build_index_resumable`` with the positions sidecar), the delta store built
with the base store's analyzer, and their ``merge_many`` result (the
add-docs path of ``scripts/admin.py``). It also records exact-BM25 top-k
(``operators.bm25.InvertedIndex``) for a fixed sample of term queries; every
run checks the server against them.

``write`` reruns the add-docs path (delta build + merge) on a copy of the
base store with the Spark event log on, and attributes each job to the
engine module whose frame was on the driver's stack while the job ran
(a sampling thread reads the main thread's stack every few ms).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# engine module (path under the package) -> layer name
LAYER_OF = {
    "operators/ids.py": "ids",
    "operators/postings.py": "postings",
    "operators/segments.py": "segments",
    "functions/varbyte.py": "segments",
    "plans/build_index.py": "build_index",
    "plans/merge.py": "merge",
}
SPARK_LAYERS = ("ids", "postings", "segments", "build_index", "merge")
EXACT_SAMPLE = (("t3 t17", "or"), ("t0 t250", "or"), ("t5 t9 t40", "and"),
                ("t120", "or"), ("t7 t31", "and"), ("t1000 t2 t64", "or"))
K = 20


def start_spark(work: str, event_dir: str | None = None):
    """local[nproc] session with every scratch path under `work`."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    tmp = os.path.join(work, "jvm_tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM spark-submit starts (its launcher too): no hsperfdata files,
    # which HotSpot would otherwise write under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false"})
    from ucuddle_search_engine_spark.session import get_spark

    return get_spark("perfbench", cores=os.cpu_count() or 1, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class FrameSampler:
    """Samples which engine layer the main thread is inside, every `period` s.
    The innermost frame from a LAYER_OF file wins."""

    def __init__(self, period: float = 0.005):
        self.period = period
        self.samples: list[tuple[float, str]] = []
        self._stop = threading.Event()
        self._main = threading.main_thread().ident
        self._pkg = str(ROOT / "ucuddle_search_engine_spark") + os.sep
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _layer(self, frame) -> str:
        while frame is not None:
            fn = frame.f_code.co_filename
            if fn.startswith(self._pkg):
                layer = LAYER_OF.get(fn[len(self._pkg):].replace(os.sep, "/"))
                if layer:
                    return layer
            frame = frame.f_back
        return "other"

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            frame = sys._current_frames().get(self._main)
            self.samples.append((time.time(), self._layer(frame)))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def layer_at(self, t0: float, t1: float) -> str:
        """Most frequent layer sampled within [t0, t1]; nearest sample before
        t1 when the job was shorter than the sampling period."""
        counts: dict[str, int] = {}
        last = "other"
        for t, layer in self.samples:
            if t <= t1:
                last = layer
            if t0 <= t <= t1:
                counts[layer] = counts.get(layer, 0) + 1
        return max(counts, key=counts.get) if counts else last


def attribute_event_log(event_dir: str, sampler: FrameSampler,
                        window: tuple[float, float]) -> dict:
    """Per-layer task/CPU seconds and Spark job/stage/task counts from the
    event log, for jobs that started inside `window` (epoch seconds)."""
    [name] = [f for f in os.listdir(event_dir) if not f.startswith(".")]
    path = os.path.join(event_dir, name)
    if os.path.isdir(path):  # event log v2: a directory of numbered parts
        parts = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                       key=lambda f: int(f.split("_")[1]))
        files = [os.path.join(path, f) for f in parts]
    else:
        files = [path]
    jobs, stage_job, stage_tasks = {}, {}, {}
    stage_ids, n_tasks = set(), 0
    shuffle_w = spill = 0
    task_s = {lay: 0.0 for lay in SPARK_LAYERS}
    cpu_s = {lay: 0.0 for lay in SPARK_LAYERS}
    for file in files:
        with open(file) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    stage_tasks.setdefault(ev["Stage ID"], []).append(ev)
    lo, hi = window
    kept = {j: (s, e) for j, (s, e) in jobs.items() if lo <= s <= hi and e is not None}
    job_layer = {j: sampler.layer_at(s, e) for j, (s, e) in kept.items()}
    for sid, evs in stage_tasks.items():
        j = stage_job.get(sid)
        if j not in kept:
            continue
        stage_ids.add(sid)
        layer = job_layer[j]
        for ev in evs:
            n_tasks += 1
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            if layer in task_s:
                task_s[layer] += (info["Finish Time"] - info["Launch Time"]) / 1e3
                cpu_s[layer] += m.get("Executor CPU Time", 0) / 1e9
            shuffle_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Disk Bytes Spilled", 0)
    # driver gap: time inside the window when no job was running
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(kept.values()):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    out = {f"{lay}.task_s": task_s[lay] for lay in SPARK_LAYERS}
    out.update({f"{lay}.cpu_s": cpu_s[lay] for lay in SPARK_LAYERS})
    out.update({"spark.jobs": len(kept), "spark.stages": len(stage_ids),
                "spark.tasks": n_tasks, "spark.driver_gap_s": (hi - lo) - busy,
                "spark.shuffle_write_bytes": shuffle_w, "spark.spill_bytes": spill})
    return out


def add_docs(spark, base: str, delta_corpus: str, delta: str, out: str) -> dict:
    """scripts/admin.py add-docs: delta store with the base store's analyzer
    and sidecar choice, then an N-way merge into `out`."""
    from ucuddle_search_engine_spark.plans.build_index import (
        build_index_resumable,
        load_analyzer,
    )
    from ucuddle_search_engine_spark.plans.merge import merge_many

    t0 = time.time()
    build_index_resumable(spark, spark.read.parquet(delta_corpus), delta, n_units=1,
                          analyzer=load_analyzer(base),
                          write_postings=os.path.isdir(os.path.join(base, "postings")))
    t1 = time.time()
    merge_many(spark, [base, delta], out)
    return {"delta_build_s": t1 - t0, "merge_s": time.time() - t1}


def cache(d: str) -> None:
    from ucuddle_search_engine_spark.operators.bm25 import InvertedIndex
    from ucuddle_search_engine_spark.plans.build_index import build_index_resumable

    spark = start_spark(os.path.join(d, "work"))
    try:
        t0 = time.time()
        build_index_resumable(spark, spark.read.parquet(os.path.join(d, "corpus.parquet")),
                              os.path.join(d, "base"), n_units=1, write_postings=True)
        stats = {"base_build_s": time.time() - t0}
        stats.update(add_docs(spark, os.path.join(d, "base"),
                              os.path.join(d, "delta.parquet"),
                              os.path.join(d, "work", "delta"), os.path.join(d, "merged")))
        meta = json.load(open(os.path.join(d, "base", "store_meta.json")))
        idx = InvertedIndex.build(spark.read.parquet(os.path.join(d, "corpus.parquet")),
                                  num_shards=meta.get("num_shards") or 3,
                                  scale_ids="prefix").persist()
        exact = []
        for q, mode in EXACT_SAMPLE:
            rows = idx.search_terms(q.split(), k=K, mode=mode).collect()
            exact.append({"q": q, "mode": mode,
                          "hits": [[r["doc_id"], round(r["score"], 6)] for r in rows]})
        json.dump(exact, open(os.path.join(d, "exact_bm25.json"), "w"))
        json.dump(stats, open(os.path.join(d, "build_stats.json"), "w"))
    finally:
        stop_spark(spark)


def write(d: str, base: str, out_json: str) -> None:
    events = os.path.join(d, "events")
    spark = start_spark(os.path.join(d, "work"), event_dir=events)
    try:
        with FrameSampler() as sampler:
            t0 = time.time()
            stats = add_docs(spark, base, os.path.join(d, "delta.parquet"),
                             os.path.join(d, "delta"), os.path.join(d, "merged"))
            t1 = time.time()
    finally:
        stop_spark(spark)
    stats.update(attribute_event_log(events, sampler, (t0, t1)))
    json.dump(stats, open(out_json, "w"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["cache", "write"])
    ap.add_argument("--dir", required=True)
    ap.add_argument("--base")
    ap.add_argument("--out")
    a = ap.parse_args()
    sys.path.insert(0, str(ROOT))
    if a.cmd == "cache":
        cache(a.dir)
    else:
        write(a.dir, a.base, a.out)


if __name__ == "__main__":
    main()
