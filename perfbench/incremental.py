#!/usr/bin/env python3
"""Layer probe of ``plans.incremental``, run by hand (see perfbench/README.md).

    python3 perfbench/incremental.py --seed 1 [--files 400]

Commits a ``batch_dupdense``-shaped corpus with ``DedupPipeline.run``, then
merges a snapshot with 1% of the files modified, 1% deleted and 1% new
(half exact copies, half forks) through ``incremental_update``. The result
is checked against a full ``DedupPipeline.run`` of the same snapshot: the
two must cluster the files identically. Prints the ``incremental.*``
metrics, then one JSON object on the last line.

One update costs far more than the 180 s a benchmark run may take, so
this is not one of the workloads of BENCHMARK.json. Run it from the
repository root; its scratch data lives in ``.perfbench_work/`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import random
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def snapshot(corpus, seed: int, frac: float = 0.01):
    """The corpus with ``frac`` of its files modified, ``frac`` deleted and
    ``frac`` new."""
    from corpus import make_drop

    drop = make_drop(corpus, seed, frac, "ix")
    k = len(drop) // 2
    modified = {r[:2] for r in drop[:k]}
    keep = [r for r in corpus.rows if r[:2] not in modified]
    dead = {r[:2] for r in random.Random(seed).sample(keep, k)}
    return [r for r in keep if r[:2] not in dead] + drop, k


def partition(cluster: dict) -> set[frozenset]:
    members: dict[str, set] = {}
    for key, cid in cluster.items():
        members.setdefault(cid, set()).add(key)
    return {frozenset(g) for g in members.values()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--files", type=int, default=400)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import run as bench_run
    import workloads as W
    from corpus import generate
    from spans import Tracer

    from uncp_spark.plans.incremental import incremental_update
    from uncp_spark.plans.pipeline import DedupPipeline

    work = os.path.join(ROOT, ".perfbench_work", f"incremental-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = bench_run.start_session(bench_run.host_fit(), work)
    try:
        b = W.Bench(spark, work, args.seed, Tracer(False))
        shape = dataclasses.replace(W.SHAPE["batch_dupdense"], n_files=args.files)
        corpus = generate(shape, args.seed, tag="in")
        base = b.path("base")
        base_s = b.commit(W.stage_input(b, corpus, "base"), corpus, base)
        rows, k = snapshot(corpus, args.seed)
        W.write_rows(rows, b.path("input", "snap.parquet"))
        snap = b.read(b.path("input", "snap.parquet"))

        t0 = time.monotonic()
        out = incremental_update(spark, base, snap, cfg=b.cfg,
                                 input_token=f"snap{args.seed}")
        incr_s = time.monotonic() - t0
        got = partition(W.clusters_of(out["labeled"]))
        t0 = time.monotonic()
        full = DedupPipeline(base_dir=b.path("full"), cfg=b.cfg).run(
            spark, snap, input_token=f"full{args.seed}")
        full_s = time.monotonic() - t0
        want = partition(W.clusters_of(full["labeled"]))
        rep = out["report"]
        metrics = {f"incremental.{t}_s": s for t, s in rep["stage_seconds"].items()}
        metrics.update({f"incremental.{n}": rep["delta"][n] for n in (
            "files_ingested", "files_dead", "sigs_fresh", "pairs_delta",
            "cc_affected_nodes")})
        metrics.update({
            "incremental.s": incr_s,
            "incremental.written_mb": W.du_mb(
                *(os.path.join(base, n) for n in W.STORED)),
            "incremental.vs_full": incr_s / full_s,
            "incremental.base_commit_s": base_s,
            "incremental.full_s": full_s,
        })
    finally:
        bench_run.stop_session(spark, W.pids_below(W.jvm_pid(spark)))
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    for name, v in metrics.items():
        print(f"{name:40s} {v:14.4f}")
    print(f"snapshot: {k} modified, {k} deleted, {k} new of {len(corpus.rows)}; "
          f"clusters equal to a full recompute: {got == want}")
    print(json.dumps({"correct": got == want, "metrics": metrics}))
    return 0 if got == want else 1


if __name__ == "__main__":
    sys.exit(main())
