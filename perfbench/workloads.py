"""The benchmark workloads.

Each workload calls the package's public functions on generated inputs and
times the calls from outside. An *operation* is one timed call chain
(construct the DataFrame, plan it, run its action); a *pass* is the
workload's fixed sequence of operations. The timed window repeats passes
until ``seconds`` have elapsed. Correctness checks run after the window and
are not timed.

* ``topic``: the reference's job over a Kafka-shaped log, batch and
  streaming. A pass runs ``operators.report.full_report`` and
  ``operators.alive_keys.alive_key_count`` over the stored log twice,
  then drains a backlog of small files one file per trigger through
  ``streaming.upsert_sink.stream_upsert_compacted_state_bucketed``.
* ``corpus_dedup``: a pass runs the registered ``dedup_keep_policy`` query,
  then ``operators.dedup.embedding_near_dups_lsh`` into
  ``operators.dedup.connected_components``.

Every workload reports three throughputs, ``ops``, in a fixed order; the
benchmark publishes them as ``op1_items_per_s`` .. ``op3_items_per_s``.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import tempfile
import threading
import time

from counters import verify_yield
from gen import alive_digest

N_BUCKETS = 64
LSH_BITS = 12  # ~1 vector per bucket and table at 5k vectors
LSH_TABLES = 8
COSINE_THRESHOLD = 0.9


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """Highest percentile with at least ``beyond`` samples above it:
    (percentile, value, sample count); NaN when there are too few."""
    n = len(xs)
    if n <= beyond:
        return float("nan"), float("nan"), n
    s = sorted(xs)
    rank = n - beyond  # s[rank - 1] has `beyond` samples above it
    return 100.0 * rank / n, s[rank - 1], n


def passes(seconds: float):
    """Pass ids until ``seconds`` have elapsed; always at least one pass."""
    t_end = time.perf_counter() + seconds
    i = 0
    while i == 0 or time.perf_counter() < t_end:
        yield i
        i += 1


def timed_op(tr, name: str, build):
    """Construct, plan and collect one DataFrame; returns (rows, wall).
    The traced run splits the wall into its three phases by spans."""
    t0 = time.perf_counter()
    with tr.span(name):
        with tr.span(name + ".construct"):
            df = build()
        with tr.span(name + ".plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span(name + ".action"):
            rows = df.collect()
    return rows, time.perf_counter() - t0


class Workload:
    """Interface shared by the workloads; see the module docstring."""

    name = ""
    ops: tuple[str, str, str] = ("", "", "")
    # untimed passes before the window. One loads classes, generates code
    # and starts the Python workers (4-core host: it takes 2-3x a warm
    # pass); a second would take a `corpus_dedup` run past its share of the
    # run budget (README, Budget)
    warm_passes = 1

    def __init__(self, inputs: str, truth: dict, scratch: str) -> None:
        self.inputs = inputs
        self.truth = truth
        self.scratch = scratch
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _op(self, fn, *args):
        """Run one operation, counting it; a raising operation is a failure."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # keep measuring; the run reports the failure
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}"[:500])
            return None

    def wrap(self, tr) -> None:
        """Install spans on the program's module attributes (traced run)."""

    def warm(self, spark) -> None:
        """Untimed passes over the same inputs, so the timed passes find code
        generated, classes loaded, hot loops JIT-compiled and Python workers
        started."""
        from spans import NullTracer

        for _ in range(self.warm_passes):
            self.window(spark, 0.0, NullTracer())

    def window(self, spark, seconds: float, tr) -> dict:
        raise NotImplementedError

    def end_to_end(self, samples: dict) -> dict:
        raise NotImplementedError

    def checks(self, spark, samples: dict) -> list[tuple[str, bool, str]]:
        raise NotImplementedError

    def layers(self, tr, samples: dict) -> dict:
        raise NotImplementedError


def _per_pass(tr, name: str, key: str) -> float:
    """Median over passes of the summed counter ``key`` of the spans called
    ``name`` in each pass."""
    by_pass: dict = {}
    for s in tr.named(name):
        by_pass.setdefault(s["pass_id"], []).append(s["counters"][key])
    return median([sum(v) for v in by_pass.values()]) if by_pass else 0.0


def _per_call(tr, name: str, key: str) -> float:
    """Median over the spans called ``name`` of their counter ``key``."""
    return median([s["counters"][key] for s in tr.named(name)])


def _span_wall(tr, name: str) -> float:
    """Median over passes of the summed wall of the spans called ``name``."""
    by_pass: dict = {}
    for s in tr.named(name):
        by_pass[s["pass_id"]] = by_pass.get(s["pass_id"], 0.0) + s["end"] - s["start"]
    return median(list(by_pass.values())) if by_pass else 0.0


def spark_layer(tr) -> dict:
    """``spark.*``, ``sources.*`` and ``python.*``: per-pass counters,
    median over the passes."""
    keys = [
        "jobs", "stages", "tasks", "failed_tasks", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "executor_run_s", "executor_cpu_s",
        "gc_s", "scheduler_wait_s",
    ]
    ps = tr.named("pass")
    out = {f"spark.{k}": median([p["counters"][k] for p in ps]) for k in keys}
    cores = len(os.sched_getaffinity(0))
    out["spark.core_utilization"] = median(
        [p["counters"]["executor_run_s"] / ((p["end"] - p["start"]) * cores) for p in ps]
    )
    out["sources.input_bytes"] = median([p["counters"]["input_bytes"] for p in ps])
    out["sources.input_records"] = median([p["counters"]["input_records"] for p in ps])
    for k in ("rows_sent", "bytes_sent", "bytes_received", "exec_s"):
        out[f"python.{k}"] = median([p["counters"][f"python_{k}"] for p in ps])
    return out


# ---------------------------------------------------------------------------
# topic
# ---------------------------------------------------------------------------


class _TriggerLog:
    """Harness-side ``StreamingQueryListener``: keeps every trigger's
    ``durationMs`` phases and ``numInputRows``, per query."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 (Spark API)
                with log.cond:
                    log.started.append(str(event.id))

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                with log.cond:
                    log.progress.setdefault(str(p.id), []).append(
                        {"batch": p.batchId, "rows": p.numInputRows, **dict(p.durationMs)}
                    )

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                with log.cond:
                    log.terminated.add(str(event.id))
                    log.cond.notify_all()

        self.cond = threading.Condition()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: dict[str, list[dict]] = {}
        self.listener = Listener()

    def wait_all_terminated(self, timeout: float = 60.0) -> None:
        with self.cond:
            ok = self.cond.wait_for(lambda: set(self.started) <= self.terminated, timeout)
        if not ok:
            raise TimeoutError("streaming listener did not see every query terminate")

    def triggers(self) -> list[dict]:
        """Progress of every trigger that read input, in start order."""
        return [p for q in self.started for p in self.progress.get(q, []) if p["rows"] > 0]


class Topic(Workload):
    name = "topic"
    ops = ("report_msgs_per_s", "compaction_msgs_per_s", "stream_msgs_per_s")
    # a batch call takes ~0.6 s and a drain ~3.1 s once warm (4-core host):
    # a pass makes the batch calls twice, so that the batch operations get
    # more samples than one per drain
    batch_repeats = 2
    # on a fresh JVM the batch calls keep getting faster for ~8 calls
    # (full_report 8 s at the 1st call, 1.0-1.4 s at the 2nd and 3rd,
    # 0.55-0.75 s from about the 8th); they are cheap, so the warm-up pass is
    # followed by extra batch calls
    warm_batch_calls = 4

    def _drain(self, spark, backlog: str, tr) -> tuple[str, float]:
        """Drain the backlog into a fresh bucketed state; (state dir, wall)."""
        from pyspark.sql import functions as F

        from kafka_topic_analyzer_spark.schema import kafka_schema
        from kafka_topic_analyzer_spark.streaming import upsert_sink

        state = tempfile.mkdtemp(prefix="state_", dir=self.scratch)
        # keyed messages only, as the registered streaming_upsert_bucketed
        # query feeds the sink: a null key is not an upsert
        stream = (
            spark.readStream.schema(kafka_schema(binary=True))
            .option("maxFilesPerTrigger", 1)
            .parquet(backlog)
            .where(F.col("key").isNotNull())
        )
        with tr.span("streaming"):
            t0 = time.perf_counter()
            upsert_sink.stream_upsert_compacted_state_bucketed(spark, stream, state, n_buckets=N_BUCKETS)
            wall = time.perf_counter() - t0
        return state, wall

    def _batch(self, spark, log: str, tr):
        """One ``full_report`` and one ``alive_key_count`` call."""
        from kafka_topic_analyzer_spark.operators import alive_keys, report

        rep = self._op(timed_op, tr, "operators.report",
                       lambda: report.full_report(spark.read.parquet(log)))
        alive = self._op(timed_op, tr, "operators.alive_keys",
                         lambda: alive_keys.alive_key_count(spark.read.parquet(log)))
        return rep, alive

    def warm(self, spark) -> None:
        super().warm(spark)
        from spans import NullTracer

        for _ in range(self.warm_batch_calls):
            self._batch(spark, os.path.join(self.inputs, "main"), NullTracer())

    def _window(self, spark, log: str, backlog: str, seconds: float, tr) -> dict:
        s = {"report_walls": [], "alive_walls": [], "drain_walls": [], "pass_walls": [],
             "last": (None, None), "state": None}
        triggers = _TriggerLog()
        spark.streams.addListener(triggers.listener)
        try:
            for i in passes(seconds):
                t0 = time.perf_counter()
                with tr.span("pass", pass_id=i):
                    for _ in range(self.batch_repeats):
                        rep, alive = self._batch(spark, log, tr)
                        if rep:
                            s["report_walls"].append(rep[1])
                        if alive:
                            s["alive_walls"].append(alive[1])
                    drain = self._op(self._drain, spark, backlog, tr)
                s["pass_walls"].append(time.perf_counter() - t0)
                s["last"] = (rep, alive)
                if drain:
                    if s["state"] is not None:  # keep only the last state, for the check
                        shutil.rmtree(s["state"], ignore_errors=True)
                    s["state"] = drain[0]
                    s["drain_walls"].append(drain[1])
            triggers.wait_all_terminated()
        finally:
            spark.streams.removeListener(triggers.listener)
        s["triggers"] = triggers.triggers()
        self.attempted += len(s["triggers"])
        return s

    def window(self, spark, seconds: float, tr) -> dict:
        return self._window(
            spark, os.path.join(self.inputs, "main"), os.path.join(self.inputs, "backlog"), seconds, tr
        )

    def end_to_end(self, s: dict) -> dict:
        log, backlog = self.truth["log"]["messages"], self.truth["backlog"]["messages"]
        execs = [t["triggerExecution"] / 1e3 for t in s["triggers"]]
        pct, tail_s, n = tail(execs)
        return {
            "report_msgs_per_s": log / median(s["report_walls"]),
            "compaction_msgs_per_s": log / median(s["alive_walls"]),
            # over all the drains of the window: a window holds only two or
            # three, too few for a steady median
            "stream_msgs_per_s": backlog * len(s["drain_walls"]) / sum(s["drain_walls"]),
            "trigger_p50_s": median(execs),
            "trigger_tail_s": tail_s,
            "trigger_tail_percentile": pct,
            "trigger_samples": n,
            "passes": len(s["pass_walls"]),
        }

    def checks(self, spark, s: dict) -> list[tuple[str, bool, str]]:
        return self._report_checks(s) + self._stream_checks(spark, s)

    def _report_checks(self, s: dict) -> list[tuple[str, bool, str]]:
        rep, alive = s["last"]
        if rep is None or alive is None:
            return [("last report pass produced results", False, "an operation raised")]
        truth = self.truth["log"]
        rows = [r.asDict() for r in rep[0]]
        parts = {r["partition"]: r for r in rows if r["is_global"] == 0}
        glob = [r for r in rows if r["is_global"] == 1]
        bad = []
        for want in truth["partitions"]:
            got = parts.get(want["partition"])
            if got is None:
                bad.append(f"partition {want['partition']} missing")
                continue
            bad += [f"p{want['partition']}.{k}: {got[k]} != {v}" for k, v in want.items() if got[k] != v]
        if len(parts) != len(truth["partitions"]):
            bad.append(f"{len(parts)} partition rows, expected {len(truth['partitions'])}")
        if len(glob) != 1 or glob[0]["total"] != truth["messages"]:
            bad.append("global row total mismatch")
        got_alive = alive[0][0]["alive_keys"]
        return [
            ("full_report == ground truth", not bad, "; ".join(bad[:5])),
            ("alive_key_count == ground truth", got_alive == truth["alive_keys"],
             f"{got_alive} vs {truth['alive_keys']}"),
        ]

    def _stream_checks(self, spark, s: dict) -> list[tuple[str, bool, str]]:
        from pyspark.sql import functions as F

        from kafka_topic_analyzer_spark.operators.alive_keys import compacted_state
        from kafka_topic_analyzer_spark.streaming.upsert_sink import read_state_bucketed

        if s["state"] is None:
            return [("stream produced state", False, "every drain raised")]
        truth = self.truth["backlog"]
        state = read_state_bucketed(spark, s["state"])
        got = sorted(
            (bytes(r["key"]).decode(), r["partition"], r["offset"])
            for r in state.select("key", "partition", "offset").collect()
        )
        batch = compacted_state(spark.read.parquet(os.path.join(self.inputs, "backlog"))).where(F.col("alive"))
        want = sorted(
            (bytes(r["key"]).decode(), r["last_partition"], r["last_offset"])
            for r in batch.select("key", "last_partition", "last_offset").collect()
        )
        n_trig, n_drain = len(s["triggers"]), len(s["drain_walls"])
        return [
            ("bucketed state == batch compacted_state", got == want, f"{len(got)} vs {len(want)} rows"),
            ("bucketed state == ground-truth alive keys",
             len(got) == truth["alive_keys"] and alive_digest(k for k, _, _ in got) == truth["alive_keys_sha256"],
             f"{len(got)} vs {truth['alive_keys']}"),
            ("one trigger per backlog file", n_trig == truth["files"] * n_drain,
             f"{n_trig} triggers in {n_drain} drains of {truth['files']} files"),
        ]

    def wrap(self, tr) -> None:
        from kafka_topic_analyzer_spark.streaming import upsert_sink

        backlog = os.path.join(self.inputs, "backlog")
        files = sorted(os.path.join(backlog, f) for f in os.listdir(backlog) if f.endswith(".parquet"))
        tr.wrap(upsert_sink, "merge_batch_bucketed", "streaming.upsert_sink", census=_StateCensus(files).after)

    def layers(self, tr, s: dict) -> dict:
        out = {}
        for op in ("operators.report", "operators.alive_keys"):
            for ph in ("construct", "plan", "action"):
                out[f"{op}.{ph}_s"] = median([sp["end"] - sp["start"] for sp in tr.named(f"{op}.{ph}")])
            for k in ("jobs", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes", "executor_cpu_s"):
                out[f"{op}.{k}"] = _per_call(tr, op, k)
        out["operators.alive_keys.shuffle_records"] = _per_call(tr, "operators.alive_keys", "shuffle_read_records")
        out["operators.alive_keys.task_skew"] = _per_call(tr, "operators.alive_keys", "task_skew")

        trig = s["triggers"]
        for phase, key in (
            ("latest_offset_s", "latestOffset"), ("get_batch_s", "getBatch"),
            ("query_planning_s", "queryPlanning"), ("add_batch_s", "addBatch"),
            ("wal_commit_s", "walCommit"), ("commit_offsets_s", "commitOffsets"),
        ):
            out[f"streaming.{phase}"] = median([t.get(key, 0) / 1e3 for t in trig])
        out["streaming.trigger_overhead_s"] = median(
            [(t["triggerExecution"] - t.get("addBatch", 0)) / 1e3 for t in trig]
        )
        epochs = tr.named("streaming.upsert_sink")
        out["streaming.upsert_sink.merge_s"] = median([e["end"] - e["start"] for e in epochs])
        out["streaming.upsert_sink.jobs"] = median([e["counters"]["jobs"] for e in epochs])
        for k in ("buckets_rewritten", "state_bytes_written", "state_bytes_live", "write_amplification"):
            out[f"streaming.upsert_sink.{k}"] = median([e["census"][k] for e in epochs])
        return out


class _StateCensus:
    """Per-epoch census of a bucketed state directory, taken right after
    ``merge_batch_bucketed`` returns: buckets whose manifest entry moved,
    bytes the epoch wrote, bytes the manifest references. With one file
    per trigger, epoch ``i`` reads the ``i``-th backlog file (files are
    ordered by name and mtime alike), which is the epoch's input."""

    def __init__(self, backlog_files: list[str]) -> None:
        self._files = backlog_files
        self._manifests: dict[str, dict] = {}

    @staticmethod
    def _tree_bytes(path: str) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(path)
            for f in files
            if not f.startswith(".")
        )

    def after(self, args, kwargs, span) -> None:
        from kafka_topic_analyzer_spark.streaming.upsert_sink import _read_manifest

        _, state_dir, epoch_id = args[:3]
        before = self._manifests.get(state_dir, {})
        now = _read_manifest(state_dir)
        self._manifests[state_dir] = dict(now)
        moved = {b for b in set(before) | set(now) if before.get(b) != now.get(b)}
        written = {rel.split(os.sep)[0] for b, rel in now.items() if b in moved}
        bytes_written = sum(self._tree_bytes(os.path.join(state_dir, d)) for d in written)
        live = sum(self._tree_bytes(os.path.join(state_dir, rel)) for rel in now.values())
        in_bytes = os.path.getsize(self._files[epoch_id]) if epoch_id < len(self._files) else 0
        span["census"] = {
            "epoch": epoch_id,
            "buckets_rewritten": len(moved),
            "state_bytes_written": bytes_written,
            "state_bytes_live": live,
            "input_bytes": in_bytes,
            "write_amplification": bytes_written / in_bytes if in_bytes else 0.0,
        }


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


class CorpusDedup(Workload):
    name = "corpus_dedup"
    ops = ("dedup_docs_per_s", "semantic_vecs_per_s", "corpus_items_per_s")

    def _window(self, spark, data_dir: str, seconds: float, tr) -> dict:
        from pyspark.sql import functions as F

        from kafka_topic_analyzer_spark.operators import dedup as D
        from kafka_topic_analyzer_spark.registry import all_queries

        keep_policy = all_queries()["dedup_keep_policy"].spark

        def semantic():
            pairs = _lsh_pairs(spark, data_dir)
            edges = pairs.select(F.col("vec_i").alias("src"), F.col("vec_j").alias("dst"))
            return D.connected_components(edges)

        s = {"dedup_walls": [], "semantic_walls": [], "pass_walls": [], "last": (None, None)}
        for i in passes(seconds):
            t0 = time.perf_counter()
            with tr.span("pass", pass_id=i):
                dedup = self._op(timed_op, tr, "queries.dedup", lambda: keep_policy(spark, data_dir))
                sem = self._op(timed_op, tr, "operators.dedup.semantic", semantic)
            s["pass_walls"].append(time.perf_counter() - t0)
            s["last"] = (dedup, sem)
            if dedup:
                s["dedup_walls"].append(dedup[1])
            if sem:
                s["semantic_walls"].append(sem[1])
        return s

    def window(self, spark, seconds: float, tr) -> dict:
        return self._window(spark, os.path.join(self.inputs, "main"), seconds, tr)

    def end_to_end(self, s: dict) -> dict:
        docs, vecs = self.truth["docs"], self.truth["vectors"]
        return {
            "dedup_docs_per_s": docs / median(s["dedup_walls"]),
            "semantic_vecs_per_s": vecs / median(s["semantic_walls"]),
            "corpus_items_per_s": (docs + vecs) / median(s["pass_walls"]),
            "passes": len(s["pass_walls"]),
        }

    def checks(self, spark, s: dict) -> list[tuple[str, bool, str]]:
        dedup, sem = s["last"]
        out = []
        if dedup is None:
            out.append(("dedup_keep_policy produced rows", False, "an operation raised"))
        else:
            got, want = self._keep_policy_vs_oracle(dedup[0])
            out.append(("dedup_keep_policy == DuckDB oracle", got == want, f"{len(got)} vs {len(want)} rows"))
        if sem is None:
            out.append(("embedding clusters produced rows", False, "an operation raised"))
        else:
            out.extend(self._cluster_checks(spark, {r["doc_id"]: r["cluster_id"] for r in sem[0]}))
        return out

    def _keep_policy_vs_oracle(self, rows) -> tuple[list, list]:
        """The query's rows and its registry DuckDB oracle's rows over the
        same documents, canonicalised (floats to 6 decimals) and sorted."""
        import duckdb

        from kafka_topic_analyzer_spark.registry import all_queries

        def canon(v):
            if isinstance(v, float):
                return "NaN" if math.isnan(v) else f"{v:.6f}"
            return v

        cols = ["doc_id", "cluster_id", "quality_score", "kept_doc_id", "keep"]
        got = sorted(tuple(canon(r[c]) for c in cols) for r in rows)
        con = duckdb.connect()
        try:
            path = os.path.join(self.inputs, "main", "documents.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            res = con.execute(all_queries()["dedup_keep_policy"].oracle)
            names = [d[0] for d in res.description]
            want = sorted(tuple(canon(dict(zip(names, r))[c]) for c in cols) for r in res.fetchall())
        finally:
            con.close()
        return got, want

    def _cluster_checks(self, spark, labels: dict[int, int]) -> list[tuple[str, bool, str]]:
        """LSH is approximate by design: a pair that shares no bucket is never
        scored. So the exact cosine pairs bound the result from above, and
        the clusters must be exactly the components of the pairs LSH kept;
        recall is reported, not required."""
        lsh = {(r["vec_i"], r["vec_j"]) for r in _lsh_pairs(spark, os.path.join(self.inputs, "main")).collect()}
        exact = self._exact_pairs()
        members: dict[int, set] = {}
        for v, c in _components(exact).items():
            members.setdefault(c, set()).add(v)
        found: dict[int, set] = {}
        for v, c in labels.items():
            found.setdefault(c, set()).add(v)
        same = sum(1 for c, m in members.items() if found.get(c) == m)
        return [
            ("every LSH pair is an exact cosine pair", lsh <= exact,
             f"{len(lsh - exact)} of {len(lsh)} pairs below {COSINE_THRESHOLD}"),
            ("LSH clusters == components of the LSH pairs", labels == _components(lsh),
             f"{len(labels)} clustered vectors; pair recall {len(lsh) / max(len(exact), 1):.4f}, "
             f"{same}/{len(members)} exact clusters reproduced"),
        ]

    def _exact_pairs(self) -> set[tuple[int, int]]:
        """All (i < j) pairs whose exact cosine, rounded like the operator's,
        reaches the threshold (numpy, blockwise)."""
        import numpy as np
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.inputs, "main", "embeddings.parquet"))
        ids = t.column("vec_id").to_numpy()
        mat = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
        unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        pairs = set()
        for lo in range(0, len(ids), 2048):
            cos = unit[lo : lo + 2048] @ unit.T
            for i, j in zip(*np.nonzero(np.round(cos, 6) >= COSINE_THRESHOLD)):
                a, b = int(ids[lo + i]), int(ids[j])
                if a < b:
                    pairs.add((a, b))
        return pairs

    def wrap(self, tr) -> None:
        from kafka_topic_analyzer_spark.operators import dedup as D

        tr.wrap(D, "connected_components", "operators.dedup.connected_components")
        tr.wrap(D, "embedding_near_dups_lsh", "operators.dedup.embedding_near_dups_lsh")

    def layers(self, tr, s: dict) -> dict:
        out = {}
        for ph in ("construct", "plan", "action"):
            out[f"queries.dedup.{ph}_s"] = _span_wall(tr, f"queries.dedup.{ph}")
        out["queries.dedup.jobs"] = _per_pass(tr, "queries.dedup", "jobs")
        for fn in ("connected_components", "embedding_near_dups_lsh"):
            out[f"operators.dedup.{fn}.s"] = _span_wall(tr, f"operators.dedup.{fn}")
            out[f"operators.dedup.{fn}.jobs"] = _per_pass(tr, f"operators.dedup.{fn}", "jobs")
        yields = []
        for sp in tr.named("operators.dedup.semantic"):
            acc, cand = verify_yield(sp["_executions"])
            if cand:
                yields.append(acc / cand)
        out["operators.dedup.lsh_verify_yield"] = median(yields) if yields else 0.0
        return out


def _lsh_pairs(spark, data_dir: str):
    from kafka_topic_analyzer_spark.operators import dedup as D

    emb = spark.read.parquet(os.path.join(data_dir, "embeddings.parquet"))
    return D.embedding_near_dups_lsh(emb, threshold=COSINE_THRESHOLD, bits=LSH_BITS, tables=LSH_TABLES)


def _components(pairs) -> dict[int, int]:
    """Vertex -> smallest vertex id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:  # the smaller root wins, so roots are component minima
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


WORKLOADS = {w.name: w for w in (Topic, CorpusDedup)}
