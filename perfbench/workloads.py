"""The benchmark's workloads, their correctness checks and layer probes.

Each workload is a single-process, closed-loop client: one operation at a
time, the next only after the previous returned. Inputs come from
``corpus.py`` and the seed; the engine sees only the generated rows.

``batch_dupdense``  operation = ``DedupPipeline.run`` of the corpus into a
                    fresh directory. 1000 small files, 35% of them
                    duplicated and forked, 10% carrying a license header,
                    3% pasted whole into a larger host: the candidate
                    tiers, verify, CC and priority all work. Set-up warms
                    the session with an untimed commit of another corpus
                    of the same shape.
``stream_drops``    operation = drain 4 drops of 1% of the corpus each
                    through ``run_stream_ingest`` (AvailableNow, one file
                    per trigger) into a state seeded with the corpus,
                    restored untimed before each drain. 1000 larger files,
                    30% with the header. No batch stage runs. Set-up
                    seeds the state and runs WARM_DRAINS untimed drains.

Every run does at least MIN_OPS operations and reports the median. After
each operation a block of reviewer SQL queries runs on its output (the
``dedup_candidates`` view, or the stream state), and the batch workload
runs one more block on its warm-up commit, so the query samples of every
run are spread over the run.

The traced run also walks the layers its operation did not: the batch
workload drains the stream, the stream workload commits a 400-file corpus
of its own shape. Each commit's stages get spans and Spark metrics, and
each candidate / verify / CC / priority function is timed on the commit's
checkpoints into a noop sink.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import resource
import shutil
import statistics
import time

from corpus import Corpus, Shape, generate, make_drop
from spans import StatusStore, Tracer

STAGE_FIELDS = ("jobs", "tasks", "shuffle_write_mb", "shuffle_read_mb",
                "task_skew")
# what a commit stores: the stage checkpoints and the candidate tiers'
# side tables (not _metrics/, whose progress log grows with run time)
STORED = ("files", "sigs", "bands", "cindex", "pairs", "edges", "labels",
          "clusters", "hot_buckets", "hot_shingles")
# a warm commit costs ~15 s and a warm drain ~4 s; the minimums keep a
# full evaluation (4 + 22 runs per workload) inside its 3420 s budget
MIN_OPS = {"batch_dupdense": 1, "stream_drops": 3}
# untimed drains in set-up: a drain's time falls over the first few
# drains of a process (5.9, 4.4, 4.0, 3.7, 3.6, 3.7 s in one run); a
# second one would cost ~6 s a run, which the budget above cannot spare
WARM_DRAINS = 1
# per query block: untimed queries (a query's latency keeps falling over its
# first runs on a new view), then timed ones
WARM_QUERIES = 2
TIMED_QUERIES = {"batch_dupdense": 6, "stream_drops": 5}
N_DROPS = 4
# the traced stream_drops run took 163 s of the 180 s allowed under heavy
# CPU steal with an 800-file walk commit
WALK_FILES = 400
RECALL_MIN = 0.99

SHAPE = {
    "batch_dupdense": Shape(n_files=1000, median_lines=30, min_lines=12,
                            dup_frac=0.35, edit_frac=0.03, header_frac=0.1,
                            header_lines=20, embed_frac=0.03),
    "stream_drops": Shape(n_files=1000, median_lines=120, min_lines=60,
                          dup_frac=0.05, edit_frac=0.03, header_frac=0.3,
                          header_lines=20, embed_frac=0.05),
}

# one reviewer query per workload, repeated, so the median is one query's
# latency rather than a boundary between query types
BATCH_QUERY = ("SELECT cluster_id, path, size, priority_rank "
               "FROM dedup_candidates LIMIT 50")
STATE_QUERY = ("SELECT sha256, count(*) AS n FROM files_state GROUP BY sha256 "
               "HAVING count(*) > 1 ORDER BY n DESC, sha256 LIMIT 20")


def du_mb(*paths: str) -> float:
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024.0 * 1024.0)


def footer_rows(path: str) -> int:
    """Row count of a parquet directory from its footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def write_rows(rows, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = ["repo", "path", "commit", "lang", "content"]
    table = pa.table({n: pa.array(c, pa.string())
                      for n, c in zip(names, zip(*rows))})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def pids_below(root: int) -> list[int]:
    """``root`` and every process descended from it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Sum of per-process peak RSS (VmHWM) of the driver JVM and every
    process below it (the Python worker daemon and its workers), plus
    this process's own peak."""
    kb = 0
    for pid in pids_below(jvm_pid(spark)):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f
                           if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    kb += resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return kb / 1024.0


class CheckFailed(Exception):
    """An operation returned output that does not match the truth."""


def clusters_of(labeled) -> dict[tuple[str, str], str]:
    return {(r.repo, r.path): r.cluster_id
            for r in labeled.select("repo", "path", "cluster_id").collect()}


def check_recall(cluster: dict, corpus: Corpus) -> float:
    """Every input file is labeled once, and at least RECALL_MIN of the
    planted pairs share a cluster."""
    if set(cluster) != {r[:2] for r in corpus.rows}:
        raise CheckFailed(f"labeled files differ from the input: "
                          f"{len(cluster)} labeled, {len(corpus.rows)} input")
    hit = sum(cluster[a] == cluster[b] for a, b, _ in corpus.pairs)
    recall = hit / len(corpus.pairs) if corpus.pairs else 1.0
    if recall < RECALL_MIN:
        raise CheckFailed(f"planted-pair recall {recall:.4f} < {RECALL_MIN}")
    return recall


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


class Bench:
    """One benchmark process: a session, a work directory, and what the
    run reports."""

    def __init__(self, spark, work: str, seed: int, tracer: Tracer) -> None:
        from uncp_spark.config import SimilarityConfig

        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.cfg = SimilarityConfig()
        self.store = StatusStore(spark) if tracer.enabled else None
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.recall = None
        self.cluster_ids: dict[tuple[str, str], str] = {}
        self.groups: set[frozenset] = set()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def describe(self, text: str) -> None:
        self.spark.sparkContext.setJobDescription(text)

    def attempt(self, fn, *args):
        """Run one operation or query; count it, and count it failed when
        it raises or its output fails a check. Returns None on failure."""
        self.attempted += 1
        try:
            return fn(*args)
        except CheckFailed as e:
            self.notes.append(f"check failed: {e}")
        except Exception as e:  # keep measuring; the failure is counted
            import traceback

            self.notes.append(f"operation raised: {e!r}")
            traceback.print_exc()
        self.failed += 1
        return None

    # ------------------------------------------------------ batch commit

    def commit(self, repos, corpus: Corpus, base_dir: str,
               traced: bool = False) -> float:
        """DedupPipeline.run into a fresh directory, checked against the
        planted truth; returns its seconds. ``traced`` records stage spans
        and Spark metrics."""
        from uncp_spark.plans.pipeline import DedupPipeline

        shutil.rmtree(base_dir, ignore_errors=True)
        pipe = DedupPipeline(base_dir=base_dir, cfg=self.cfg)
        current: dict = {"span": None}
        if traced:
            # a stage's span runs from its build start to the next
            # stage's build start, so it covers the checkpoint write
            def wrap(spec):
                def build(spark, ctx):
                    self.tracer.close(current["span"])
                    current["span"] = self.tracer.open(f"stage.{spec.name}")
                    return spec.build(spark, ctx)
                return dataclasses.replace(spec, build=build)

            pipe.stages = [wrap(s) for s in pipe.default_stages()]
            self.store.mark()
        with self.tracer.span("pipeline.run"):
            t0 = time.monotonic()
            out = pipe.run(self.spark, repos, input_token=f"seed{self.seed}")
            secs = time.monotonic() - t0
            self.tracer.close(current["span"])
        if traced:
            self._stage_metrics(out["report"], base_dir, secs)
        self.describe("bench:check")
        cluster = clusters_of(out["labeled"])
        self.recall = check_recall(cluster, corpus)
        self.cluster_ids = cluster
        members: dict[str, set] = {}
        for k, c in cluster.items():
            members.setdefault(c, set()).add(k)
        self.groups = {frozenset(g) for g in members.values() if len(g) > 1}
        return secs

    def _stage_metrics(self, report: dict, base_dir: str, secs: float) -> None:
        spark_m = self.store.collect()
        walls = {s.name[len("stage."):]: s.seconds for s in self.tracer.spans
                 if s.name.startswith("stage.")}
        for st in report["stages"]:
            name = st["stage"]
            m = spark_m.get(f"uncp:{name}", {})
            self.layer.update({
                f"{name}.wall_s": walls[name],
                f"{name}.write_s": st["seconds"],
                f"{name}.rows": st["rows"],
                f"{name}.stored_mb": du_mb(os.path.join(base_dir, name)),
                **{f"{name}.{k}": m.get(k, 0) for k in STAGE_FIELDS},
            })
        # zero on a healthy run at this size, so summed over the stages
        # rather than reported per stage
        for k in ("spill_mb", "failed_tasks"):
            self.layer[f"pipeline.{k}"] = sum(
                m.get(k, 0) for d, m in spark_m.items() if d.startswith("uncp:"))
        self.layer["pipeline.run_s"] = secs
        # _run.json times only write_checkpoint; work a stage's build()
        # runs eagerly (the pairs stage writes bands / cindex / hot tables,
        # CC writes its rounds) is in nobody's seconds
        self.layer["pipeline.untracked_s"] = report["total_seconds"] - sum(
            st["seconds"] for st in report["stages"])

    # -------------------------------------------------------------- queries

    def queries(self, text: str, check, timed: int) -> list[float]:
        """Closed loop of WARM_QUERIES untimed, then ``timed`` timed runs of
        a reviewer query; returns the seconds of each timed run. Every
        run is checked, and every failure counted."""
        self.describe("bench:query")
        times: list[float] = []

        def one() -> None:
            t0 = time.monotonic()
            rows = self.spark.sql(text).collect()
            times.append(time.monotonic() - t0)
            check(rows)

        with self.tracer.span("queries"):
            for _ in range(WARM_QUERIES + timed):
                self.attempt(one)
        return times[WARM_QUERIES:]

    def check_candidates(self, rows) -> None:
        """The top of the deletion list: non-canonical members of real
        clusters, in priority order."""
        want = min(50, sum(len(g) - 1 for g in self.groups))
        ids = {self.cluster_ids[k] for g in self.groups for k in g}
        ranks = [r.priority_rank for r in rows]
        if (len(rows) != want or ranks != sorted(ranks)
                or any(r.cluster_id not in ids for r in rows)):
            raise CheckFailed("dedup_candidates head is wrong")

    def check_state(self, rows) -> None:
        count: dict[str, int] = {}
        for sha in self.expected_state.values():
            count[sha] = count.get(sha, 0) + 1
        want = sorted(((-n, s) for s, n in count.items() if n > 1))[:20]
        if [(-r.n, r.sha256) for r in rows] != want:
            raise CheckFailed("files_state duplicate groups are wrong")

    # ----------------------------------------------------------- streaming

    def stream_setup(self, base_rows, drops) -> None:
        """Seed the stream state with the base rows as drop 0, keep
        pristine copies of state and stream checkpoint, and stage the
        drops."""
        from uncp_spark.streaming.stream_ingest import run_stream_ingest

        shutil.rmtree(self.path("stream"), ignore_errors=True)
        write_rows(base_rows, self.path("stream", "drops", "drop_000.parquet"))
        for j, rows in enumerate(drops, 1):
            write_rows(rows, self.path("stream", "staged", f"drop_{j:03d}.parquet"))
        self.describe("bench:stream_seed")
        t0 = time.monotonic()
        q = run_stream_ingest(self.spark, self.path("stream", "drops"),
                              self.path("stream", "state"),
                              self.path("stream", "ckpt"),
                              max_files_per_trigger=1)
        q.awaitTermination()
        self.layer["stream.seed_s"] = time.monotonic() - t0
        for name in ("state", "ckpt"):
            shutil.copytree(self.path("stream", name),
                            self.path("stream", name + ".pristine"))
        last: dict = {}
        for row in [*base_rows, *(r for d in drops for r in d)]:
            last[row[:2]] = row
        self.expected_state = {k: _sha(r[4]) for k, r in last.items()}
        self.drop_mb = du_mb(self.path("stream", "staged"))

    def stream_drain(self) -> float:
        """Restore the seeded state (untimed), stage the drops, drain them
        through run_stream_ingest; returns the drain seconds."""
        from uncp_spark.streaming.stream_ingest import run_stream_ingest

        # fixed paths: the file source's checkpoint names drop_000 by path
        for name in ("state", "ckpt"):
            shutil.rmtree(self.path("stream", name), ignore_errors=True)
            shutil.copytree(self.path("stream", name + ".pristine"),
                            self.path("stream", name))
        drops = self.path("stream", "drops")
        for f in os.listdir(drops):
            if f != "drop_000.parquet":
                os.remove(os.path.join(drops, f))
        # the file source takes files in modification-time order: give
        # drop j the j-th second so keep-last follows drop order
        t_mod = time.time() - N_DROPS - 1
        for j, f in enumerate(sorted(os.listdir(self.path("stream", "staged"))), 1):
            dst = shutil.copy(self.path("stream", "staged", f), drops)
            os.utime(dst, (t_mod + j, t_mod + j))
        self.describe("bench:stream")
        with self.tracer.span("stream.drain"):
            t0 = time.monotonic()
            q = run_stream_ingest(self.spark, drops, self.path("stream", "state"),
                                  self.path("stream", "ckpt"),
                                  max_files_per_trigger=1)
            q.awaitTermination()
            secs = time.monotonic() - t0
        batch_s = [p.durationMs["triggerExecution"] / 1000.0
                   for p in q.recentProgress if p.numInputRows > 0]
        state = self.path("stream", "state", "files_state.parquet")
        state_mb = du_mb(state)
        self.layer.update({
            "stream.drain_s": secs,
            "stream.batches": len(batch_s),
            "stream.batch_p50_s": statistics.median(batch_s),
            "stream.batch_max_s": max(batch_s),
            "stream.state_mb": state_mb,
            # each micro-batch rewrites the whole state: bytes written per
            # byte dropped, taking the final state size for every batch
            "stream.write_amp": len(batch_s) * state_mb / self.drop_mb,
        })
        self.describe("bench:check")
        got = {(r.repo, r.path): r.sha256
               for r in self.read(state).select("repo", "path", "sha256").collect()}
        if got != self.expected_state:
            raise CheckFailed("stream state differs from a keep-last of the drops")
        self.read(state).createOrReplaceTempView("files_state")
        return secs

    # -------------------------------------------------------- layer probes

    def probes(self, base_dir: str, corpus: Corpus) -> None:
        """Time each layer's public function on a commit's checkpoints,
        materialized into a noop sink, with counts taken by Observation
        inside the same jobs."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from uncp_spark.operators.components import connected_components, label_all
        from uncp_spark.operators.containment_index import containment_candidates
        from uncp_spark.operators.lsh import candidate_pairs
        from uncp_spark.operators.priority import (
            cluster_stats,
            priority_ranked,
            register_views,
        )
        from uncp_spark.operators.signatures import shingle_sets
        from uncp_spark.operators.verify import ScorerCache, accept_edges, score_pairs

        cfg, L = self.cfg, self.layer
        t = {n: self.read(os.path.join(base_dir, n))
             for n in ("files", "sigs", "bands", "cindex", "pairs", "edges",
                       "labels", "clusters")}

        def sink(df, layer: str, metric: str) -> int:
            """Time a noop write of ``df`` as ``metric``; returns its row
            count, taken by an Observation on the same jobs."""
            obs = Observation(layer)
            self.describe(f"bench:{layer}")
            with self.tracer.span(layer):
                t0 = time.monotonic()
                df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                    "noop").mode("overwrite").save()
                L[metric] = time.monotonic() - t0
            return obs.get["rows"]

        reps = {r[4] for r in corpus.rows}
        L["signatures.content_mb_per_s"] = sum(
            len(c.encode()) for c in reps) / (1024 * 1024) / L["sigs.wall_s"]

        lp, _ = candidate_pairs(None, cfg, bands=t["bands"])
        L["lsh.band_pairs"] = sink(lp, "lsh", "lsh.band_s")
        L["lsh.band_entries"] = footer_rows(os.path.join(base_dir, "bands"))
        self.describe("bench:lsh_buckets")
        sizes = t["bands"].groupBy("band", "band_hash").count()
        shared = sizes.agg(F.sum(F.when(F.col("count") >= 2, F.col("count"))
                                 .otherwise(0))).first()[0] or 0
        L["lsh.shared_entry_ratio"] = shared / max(1, L["lsh.band_entries"])
        L["lsh.hot_buckets"] = footer_rows(os.path.join(base_dir, "hot_buckets"))

        cp, _ = containment_candidates(None, cfg, entries=t["cindex"])
        L["containment.pairs"] = sink(cp, "containment", "containment.s")
        L["containment.entries"] = footer_rows(os.path.join(base_dir, "cindex"))
        L["containment.hot_shingles"] = footer_rows(
            os.path.join(base_dir, "hot_shingles"))

        # every scored candidate went exactly one way: accepted by phase 1
        # (no exact values computed), screened out by the sketch bound (no
        # exact values either), or through the fat path (exact values set)
        fat = F.col("containment").isNotNull() | F.col("jaccard").isNotNull()
        p1 = ~fat & ((F.col("est_jaccard") >= cfg.jaccard_threshold)
                     | (F.col("hamming") <= cfg.hamming_threshold))
        with ScorerCache():
            scored = score_pairs(t["pairs"], t["sigs"], cfg, t["files"])
            obs = Observation("verify_phases")
            edges = accept_edges(scored.observe(
                obs, F.count(F.lit(1)).alias("candidates"),
                F.sum(p1.cast("long")).alias("phase1"),
                F.sum((~fat & ~p1).cast("long")).alias("screened"),
                F.sum(fat.cast("long")).alias("fat")), cfg)
            L["verify.edges"] = sink(edges, "verify", "verify.s")
            ph = obs.get
            self.describe("bench:verify_fat_ids")
            ids_path = self.path("fat_ids")
            scored.filter(fat).select(
                F.explode(F.array("src", "dst")).alias("file_id")
            ).distinct().write.mode("overwrite").parquet(ids_path)
        L.update({
            "verify.candidates": ph["candidates"],
            "verify.phase1_accepted": ph["phase1"] or 0,
            "verify.screened": ph["screened"] or 0,
            "verify.fat_pairs": ph["fat"] or 0,
            "verify.edge_yield": L["verify.edges"] / max(1, ph["candidates"]),
        })
        sink(shingle_sets(t["files"], cfg, ids=self.read(ids_path)),
             "shingle_recompute", "verify.shingle_recompute_s")

        labels = connected_components(t["edges"].select("src", "dst"),
                                      checkpoint_dir=self.path("cc_probe"))
        sink(labels, "cc", "cc.s")
        self.describe("bench:cc_sizes")
        agg = t["labels"].groupBy("cluster_id").count().agg(
            F.count(F.lit(1)), F.max("count")).first()
        L["cc.components"], L["cc.largest"] = agg[0], agg[1] or 0

        labeled = label_all(t["files"], t["labels"])
        L["priority.clusters"] = sink(
            priority_ranked(cluster_stats(labeled)), "priority", "priority.s")
        self.describe("bench:views")
        with self.tracer.span("views.register"):
            t0 = time.monotonic()
            register_views(self.spark, t["clusters"], labeled)
            L["views.register_s"] = time.monotonic() - t0
        # CC's job count from the status store (components.LAST_RUN_STATS
        # keeps a failed run's previous counters)
        L["cc.jobs"] = self.store.collect().get("bench:cc", {}).get("jobs", 0)


# ---------------------------------------------------------------- workloads


def stage_input(bench: Bench, corpus: Corpus, name: str):
    write_rows(corpus.rows, bench.path("input", f"{name}.parquet"))
    return bench.read(bench.path("input", f"{name}.parquet"))


def prepare(workload: str, seed: int, work: str, traced: bool) -> dict:
    """Generate and write the workload's inputs. Uses no Spark, so it runs
    while the session starts."""
    t0 = time.monotonic()
    shape = SHAPE[workload]
    batch = workload == "batch_dupdense"
    inp = {"corpus": generate(shape, seed, tag=workload[:2])}
    inp["drops"] = [] if batch and not traced else [
        make_drop(inp["corpus"], seed * 100 + j, 0.005, f"d{j}")
        for j in range(N_DROPS)]
    write_rows(inp["corpus"].rows, os.path.join(work, "input", "base.parquet"))
    if batch:
        inp["warmup"] = generate(shape, seed + 1, tag="wu")
        write_rows(inp["warmup"].rows,
                   os.path.join(work, "input", "warmup.parquet"))
    inp["input_s"] = time.monotonic() - t0
    return inp


def run(bench: Bench, workload: str, inp: dict, seconds: float,
        t_start: float) -> dict:
    """Set up and measure ``workload`` on the inputs ``prepare`` made;
    returns its end-to-end metrics (and fills ``bench.layer`` when
    traced). ``t_start`` is when the process began, so setup_s covers
    interpreter and session start too."""
    tracer = bench.tracer
    shape = SHAPE[workload]
    batch = workload == "batch_dupdense"
    corpus, drops = inp["corpus"], inp["drops"]
    repos = bench.read(bench.path("input", "base.parquet"))
    bench.layer["session.input_s"] = inp["input_s"]
    # untimed warm-up through the operation's code paths: JIT, codegen,
    # Python workers and first-touch page faults land here, not in run_s.
    # It takes a commit of the full size: after a commit of 30 or 300
    # files the next full commit still ran 17-25 s, and the ones after it
    # 14-15 s.
    t0 = time.monotonic()
    if batch:
        # kept: the first query window reads its views
        bench.attempt(bench.commit, bench.read(bench.path("input", "warmup.parquet")),
                      inp["warmup"], bench.path("warmup"))
    else:
        bench.attempt(bench.stream_setup, corpus.rows, drops)
        for _ in range(WARM_DRAINS):
            bench.attempt(bench.stream_drain)
    bench.layer["session.warm_s"] = time.monotonic() - t0

    setup_done = time.monotonic()
    op_s: list[float] = []
    q: list[float] = []
    with tracer.span(f"workload.{workload}"):
        if batch:
            # a first query window on the warm-up commit's views: query
            # latency drifts by tens of percent over a few seconds, and
            # with one window the run's median took whichever phase it hit
            q += bench.queries(BATCH_QUERY, bench.check_candidates,
                               TIMED_QUERIES[workload])
        while (len(op_s) < MIN_OPS[workload]
               or time.monotonic() - setup_done < seconds):
            if batch:
                secs = bench.attempt(bench.commit, repos, corpus,
                                     bench.path(f"commit{len(op_s)}"),
                                     tracer.enabled and not op_s)
            else:
                secs = bench.attempt(bench.stream_drain)
            if secs is None:
                break
            op_s.append(secs)
            if batch:
                q += bench.queries(BATCH_QUERY, bench.check_candidates,
                                   TIMED_QUERIES[workload])
            else:
                q += bench.queries(STATE_QUERY, bench.check_state,
                                   TIMED_QUERIES[workload])
        if not op_s:
            return {}
    if batch:
        last = bench.path(f"commit{len(op_s) - 1}")
        stored = [os.path.join(last, n) for n in STORED]
        files = len(corpus.rows)
    else:
        stored = [bench.path("stream", "state"), bench.path("stream", "ckpt")]
        files = sum(len(d) for d in drops)
    run_s = statistics.median(op_s)
    out = {
        "setup_s": setup_done - t_start,
        "run_s": run_s,
        "files_per_s": files / run_s,
        "query_p50_ms": statistics.median(q) * 1000 if q else 0.0,
        "stored_mb": du_mb(*stored),
        "ops": op_s,
        "queries": q,
    }
    # JVM heap growth moves this by ~20% between identical runs, more than
    # the largest bound an end-to-end metric may have, so it is per-layer
    bench.layer["process.peak_rss_mb"] = peak_rss_mb(bench.spark)
    if tracer.enabled:
        bench.layer["trace.run_s"] = run_s
        with tracer.span("walk_layers"):
            if batch:
                bench.attempt(walk_stream, bench, corpus, drops)
            else:
                bench.attempt(walk_batch, bench, shape)
    return out


def walk_stream(bench: Bench, corpus: Corpus, drops) -> None:
    """Traced batch_dupdense: probe the traced commit, then drain the
    stream once."""
    bench.probes(bench.path("commit0"), corpus)
    bench.stream_setup(corpus.rows, drops)
    bench.stream_drain()


def walk_batch(bench: Bench, shape: Shape) -> None:
    """Traced stream_drops: commit a corpus of the stream's shape (header
    heavy, so verify works hardest) with stage spans, and probe it."""
    corpus = generate(dataclasses.replace(shape, n_files=WALK_FILES),
                      bench.seed, tag="wb")
    repos = stage_input(bench, corpus, "walk")
    bench.commit(repos, corpus, bench.path("commit_t"), traced=True)
    bench.probes(bench.path("commit_t"), corpus)
