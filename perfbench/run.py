#!/usr/bin/env python3
"""Layered benchmark of the CDS batch pipeline, the corpus pipeline and
the head queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each workload drives the engine's public
entry points in-process, from one process with at most ``nproc``
client threads, on inputs generated from ``--seed``:

``cds_batch``
    ``cli.main`` transform of one generated study file (FIXTURES.md §2
    shape, see ``cds_gen.py``) to node TSVs and validation reports.
``query_heads``
    The eight ``bench.py`` head queries on generated sf0.1 tables, in a
    read-only closed loop: one client for latency, ``nproc`` for
    throughput.
``llm_corpus``
    ``llm_pipeline.prepare_training_data`` over 5,000 generated
    documents and a fixed probe set, run to the collected manifest.

Every timed operation's output is checked; a failed or wrong operation
counts in ``failed``. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The traced run also writes its spans to
``.perfbench_out/spans-<workload>-<seed>.json``. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import logging  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

from tracer import LAYERS, Tracer, held_storage  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLIENTS = min(4, os.cpu_count() or 1)
CDS_ROWS = 10_000
SF = 0.1
CHUNK_BUDGET = 256

# End-to-end metrics (every workload) and per-layer metrics (traced run).
END_TO_END = {
    "setup_s": "s",
    "run_wall_s": "s",
    "rows_per_s": "1/s",
}
HEADS = [f"q{i}" for i in range(1, 9)]
WARMUP_PASSES = 2  # after the oracle check, which is the first pass
OPERATOR_SPANS = (
    "pin_stage", "exact_dedup", "minhash_lsh_pairs", "connected_components",
    "decontaminate", "chunk_assignments",
)
PER_LAYER = {
    "operators.id_validation.s": "s",
    "operators.id_validation.jobs": "count",
    "sources.write_tsv_file.s": "s",
    "sources.write_tsv_file.jobs": "count",
    "sources.write_tsv_file.calls": "count",
    "operators.extract_node.s": "s",
    "operators.string_canonical_dedup.s": "s",
    "operators.combine_rows.s": "s",
    "operators.clean_data.s": "s",
    "sources.out_bytes": "B",
    "cli.read_metadata.s": "s",
    "pipeline.run.s": "s",
    "cli.apply_history.s": "s",
    "plans.build_s": "s",
    "catalog.load_table_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "execute_s": "s",
    **{f"heads.{q}.{k}": "count" for q in HEADS for k in ("jobs", "stages", "tasks")},
    **{f"operators.{op}.{k}": u for op in OPERATOR_SPANS for k, u in (("s", "s"), ("jobs", "count"))},
    "pin.held_blocks": "count",
    "pin.held_mb": "MiB",
    "mem.peak_rss_mb": "MiB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    **{f"layer.{layer}.self_s": "s" for layer in LAYERS},
    "trace.run_wall_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
}


class Run:
    """One benchmark process: work dir, session, counters, results."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.session_s = 0.0
        self.tracer = None
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)

    def start_session(self):
        from cds_etl_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.tracer = Tracer(self.spark)
        return self.spark

    def span(self, name):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def record(self, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(why)

    def peak_rss_mb(self) -> float:
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024

    def stop(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(self.work))


def note(what: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {what}", file=sys.stderr, flush=True)


def median(values):
    return statistics.median(values) if values else 0.0


def timed_loop(op, seconds: float) -> int:
    """Call ``op`` until ``seconds`` have passed (at least once); returns
    the number of calls."""
    calls = 0
    t_end = time.perf_counter() + seconds
    while not calls or time.perf_counter() < t_end:
        op()
        calls += 1
    return calls


def repeated_setup(step, times: int = 3) -> float:
    """Run a repeatable set-up step (input generation) ``times`` times;
    returns the correction that replaces their summed wall by their
    median, so ``setup_s`` counts the step once, at its median."""
    walls = []
    for _ in range(times):
        t0 = time.perf_counter()
        step()
        walls.append(time.perf_counter() - t0)
    return median(walls) - sum(walls)


def span_metrics(summary: dict, names: dict[str, tuple[str, str]]) -> dict[str, float]:
    """``{metric: (span name, summary key)}`` read from ``summary``."""
    by_name = summary["by_name"]
    return {metric: by_name.get(span, {}).get(key, 0) for metric, (span, key) in names.items()}


def common_trace_metrics(run: Run, root: dict) -> tuple[dict[str, float], dict]:
    """Metrics every traced workload reports, for the op under ``root``."""
    s = run.tracer.summary(root)
    blocks, mb = held_storage(run.spark.sparkContext)
    out = {
        "pin.held_blocks": blocks,
        "pin.held_mb": mb,
        "spark.jobs": s["totals"]["jobs"],
        "spark.stages": s["totals"]["stages"],
        "spark.tasks": s["totals"]["tasks"],
        "trace.run_wall_s": s["wall_s"],
        "trace.unattributed_s": s["unattributed_s"],
    }
    for layer, v in s["by_layer_self_s"].items():
        out[f"layer.{layer}.self_s"] = v
    # The session layer's work is the session start, done once in set-up.
    out["layer.session.self_s"] = run.session_s
    out["mem.peak_rss_mb"] = run.peak_rss_mb()
    return out, s


# --------------------------------------------------------------------------
# cds_batch
# --------------------------------------------------------------------------


def cds_batch(run: Run) -> dict:
    import cds_gen
    from cds_etl_spark import cli, pipeline

    run.start_session()
    inputs = os.path.join(run.work, "input")
    batch = {}

    def generate():
        shutil.rmtree(inputs, ignore_errors=True)
        batch.update(cds_gen.write_batch(inputs, run.seed, [CDS_ROWS]))

    setup_adjust = repeated_setup(generate)
    setup_s = time.perf_counter() - T_START + setup_adjust

    if run.trace:
        run.tracer.wrap_namespace(
            cli,
            names={"_apply_history": "cli.apply_history", "_build_pipeline": "cli.build_pipeline"},
            exclude={"main", "build_parser"},
        )
        run.tracer.wrap_namespace(pipeline)
        run.tracer.wrap(pipeline.CdsPipeline, "run", "pipeline.run")

    per_layer: dict[str, float] = {}

    def op():
        # Fresh output, validation and history-state dirs: no run sees
        # another run's state.
        run_dir = os.path.join(run.work, "run")
        config = cds_gen.write_config(inputs, batch, run_dir)
        error = ""
        overhead0 = run.tracer.overhead_s if run.tracer else 0.0
        with run.span("run") as root:
            t0 = time.perf_counter()
            try:
                cli.main(["--config_file", config], spark=run.spark)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                error = f"{type(e).__name__}: {e}"
            wall = time.perf_counter() - t0
        if error:
            ok, why = False, error
        else:
            got = cds_gen.count_outputs(run_dir)
            ok = got == batch["expected"]
            why = "" if ok else f"output counts {got} != expected {batch['expected']}"
        run.record(ok, why)
        if root is not None:
            m, s = common_trace_metrics(run, root)
            m.update(span_metrics(s, {
                "operators.id_validation.s": ("operators.id_validation", "s"),
                "operators.id_validation.jobs": ("operators.id_validation", "jobs"),
                "sources.write_tsv_file.s": ("sources.write_tsv_file", "s"),
                "sources.write_tsv_file.jobs": ("sources.write_tsv_file", "jobs"),
                "sources.write_tsv_file.calls": ("sources.write_tsv_file", "calls"),
                "operators.extract_node.s": ("operators.extract_node", "s"),
                "operators.string_canonical_dedup.s": ("operators.string_canonical_dedup", "s"),
                "operators.combine_rows.s": ("operators.combine_rows", "s"),
                "operators.clean_data.s": ("operators.clean_data", "s"),
                "cli.read_metadata.s": ("cli.read_metadata", "s"),
                "pipeline.run.s": ("pipeline.run", "s"),
                "cli.apply_history.s": ("cli.apply_history", "s"),
            }))
            m["sources.out_bytes"] = _dir_bytes(run_dir, ("out", "validation"))
            m["trace.overhead_s"] = run.tracer.overhead_s - overhead0
            per_layer.update(m)
        return wall

    wall = op()  # one cold transform per process, as a CLI user runs it
    return {
        "end_to_end": {
            "setup_s": setup_s,
            "run_wall_s": wall,
            "rows_per_s": batch["rows"] / wall,
        },
        "per_layer": per_layer,
    }


def _dir_bytes(root: str, subdirs) -> int:
    total = 0
    for sub in subdirs:
        for dirpath, _, files in os.walk(os.path.join(root, sub)):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".tsv"))
    return total


def _median_dicts(dicts: list[dict]) -> dict:
    keys = {k for d in dicts for k in d}
    return {k: median([d[k] for d in dicts if k in d]) for k in keys}


# --------------------------------------------------------------------------
# query_heads
# --------------------------------------------------------------------------

# Input tables each head query reads (for rows_per_s).
HEAD_INPUTS = {
    "q1": ("lineitem",), "q2": ("lineitem",), "q3": ("orders", "customer"),
    "q4": ("orders",), "q5": ("orders",), "q6": ("documents",),
    "q7": ("events",), "q8": ("orders",),
}


def _execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _frames_equal(spark_df, duck_rel) -> tuple[bool, str]:
    """Order-insensitive result comparison: columns matched by name,
    rows sorted, floats equal to 1e-9 relative."""
    import numpy as np

    got, want = spark_df.toPandas(), duck_rel.df()
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return False, f"{len(got)} rows != {len(want)}"
    cols = sorted(got.columns)
    got = got[cols].sort_values(cols, ignore_index=True)
    want = want[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind in "fiu" and b.dtype.kind in "fiu":
            same = np.allclose(a.astype(float), b.astype(float), rtol=1e-9, atol=1e-9)
        else:
            same = (got[c].astype(str) == want[c].astype(str)).all()
        if not same:
            return False, f"column {c} differs"
    return True, ""


def query_heads(run: Run) -> dict:
    import duckdb

    import tables_gen

    run.start_session()
    note("session started")
    import bench
    from baseline_duckdb import QUERIES as ORACLE
    from cds_etl_spark.catalog import load_table

    spark = run.spark
    data = os.path.join(run.work, "tables")
    rows: dict[str, int] = {}
    setup_adjust = repeated_setup(lambda: rows.update(tables_gen.write_query_tables(data, run.seed, SF)))
    note("tables generated")
    # Cache fill, one client per table: the tables are the session's
    # buffer pool, as in bench.py.
    with ThreadPoolExecutor(CLIENTS) as pool:
        list(pool.map(lambda t: load_table(spark, data, t).cache().count(), rows))
    queries = {q: bench.BENCH_QUERIES[q] for q in HEADS}
    note("tables cached")

    # Oracle check, untimed (not part of setup_s), once per process. It
    # is also the first warm-up pass.
    t_oracle = time.perf_counter()
    con = duckdb.connect()
    for t in rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'")
    oracle_ok = True
    for q, fn in queries.items():
        ok, why = _frames_equal(fn(spark, data), con.sql(ORACLE[q]))
        if not ok:
            oracle_ok = False
            run.errors.append(f"{q}: {why}")
    con.close()
    t_oracle = time.perf_counter() - t_oracle
    note("oracle checked")

    def one(q, record=True):
        try:
            _execute(queries[q](spark, data))
            ok, why = oracle_ok, f"{q} differs from the oracle"
        except Exception as e:  # noqa: BLE001
            ok, why = False, f"{q}: {type(e).__name__}: {e}"
        if record:
            run.record(ok, why)

    def concurrent_passes(passes: int) -> float:
        """CLIENTS closed-loop clients each run ``passes`` full passes,
        each starting at another head, so the query mix is the same in
        every run; returns the wall."""

        def client(k):
            for i in range(passes * len(HEADS)):
                one(HEADS[(k + i) % len(HEADS)])

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client, args=(k,)) for k in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return time.perf_counter() - t0

    for _ in range(WARMUP_PASSES):  # the heads keep speeding up (JIT) for a few passes
        for q in HEADS:
            one(q, record=False)
    setup_s = time.perf_counter() - T_START + setup_adjust - t_oracle
    note("warmed up")

    latency: dict[str, list[float]] = {q: [] for q in HEADS}

    def one_pass():
        for q in HEADS:
            t0 = time.perf_counter()
            one(q)
            latency[q].append(time.perf_counter() - t0)

    half = run.seconds / 2
    timed_loop(one_pass, half)
    # A pass's latency from each head's median, so one slow execution
    # does not set the pass.
    pass_wall = sum(median(v) for v in latency.values())
    result = {"end_to_end": {"setup_s": setup_s, "run_wall_s": pass_wall}}

    if not run.trace:
        # Throughput: a fixed number of passes per client, sized from the
        # 1-client pass to fill about the other half of the window.
        passes = max(1, round(half / (2 * pass_wall)))
        pass_rows = sum(rows[t] for q in HEADS for t in HEAD_INPUTS[q])
        result["end_to_end"]["rows_per_s"] = CLIENTS * passes * pass_rows / concurrent_passes(passes)
        return result

    # Traced passes: plan build, Catalyst phases, execution, per query.
    tracer = run.tracer
    # The plan modules bind catalog.load_table at import; time it there.
    for mod in [m for m in list(sys.modules.values()) if getattr(m, "load_table", None) is load_table]:
        tracer.wrap(mod, "load_table", "catalog.load_table")
    per_pass: list[dict] = []

    def traced_pass():
        m: dict[str, float] = {}
        with tracer.span("run") as root:
            for q in HEADS:
                with tracer.span("plans.build") as b:
                    df = queries[q](spark, data)
                with tracer.span("catalyst.plan"):
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    phases = qe.tracker().phases()
                    for ph in ("analysis", "optimization", "planning"):
                        opt = phases.get(ph)
                        ms = opt.get().durationMs() if opt.isDefined() else 0
                        m[f"catalyst.{ph}_s"] = m.get(f"catalyst.{ph}_s", 0.0) + ms / 1000
                with tracer.span("execute") as ex:
                    try:
                        _execute(df)
                        run.record(oracle_ok, f"{q} differs from the oracle")
                    except Exception as e:  # noqa: BLE001
                        run.record(False, f"{q}: {type(e).__name__}: {e}")
                m["plans.build_s"] = m.get("plans.build_s", 0.0) + b["end"] - b["start"]
                m["execute_s"] = m.get("execute_s", 0.0) + ex["end"] - ex["start"]
                for k in ("jobs", "stages", "tasks"):
                    m[f"heads.{q}.{k}"] = ex[k]
        common, s = common_trace_metrics(run, root)
        m.update(common)
        m["catalog.load_table_s"] = s["by_name"].get("catalog.load_table", {}).get("s", 0.0)
        per_pass.append(m)

    overhead0 = tracer.overhead_s
    passes = timed_loop(traced_pass, half)
    per_layer = _median_dicts(per_pass)
    per_layer["trace.overhead_s"] = (tracer.overhead_s - overhead0) / passes
    result["per_layer"] = per_layer
    return result


# --------------------------------------------------------------------------
# llm_corpus
# --------------------------------------------------------------------------


def _check_manifest(rows, probe_texts: set[str], texts: list[str]) -> tuple[bool, str]:
    """Each doc once, every chunk within budget, no probe text kept."""
    docs: dict[int, tuple] = {}
    pairs = set()
    chunk_tokens: dict[tuple, int] = {}
    for r in rows:
        shard, doc, chunk, n_tok, start = r.lang_guess, r.doc_id, r.chunk_id, r.n_tokens, r.cum_before
        if (doc, chunk) in pairs:
            return False, f"doc {doc} chunk {chunk} twice"
        pairs.add((doc, chunk))
        if docs.setdefault(doc, (shard, n_tok, start)) != (shard, n_tok, start):
            return False, f"doc {doc} packed twice"
        lo, hi = chunk * CHUNK_BUDGET, (chunk + 1) * CHUNK_BUDGET
        overlap = min(hi, start + n_tok) - max(lo, start)
        if overlap <= 0:
            return False, f"doc {doc} assigned to chunk {chunk} it does not overlap"
        chunk_tokens[(shard, chunk)] = chunk_tokens.get((shard, chunk), 0) + overlap
    over = [k for k, v in chunk_tokens.items() if v > CHUNK_BUDGET]
    if over:
        return False, f"chunks over budget: {over[:3]}"
    kept_probe = [d for d in docs if texts[d] in probe_texts]
    if kept_probe:
        return False, f"probe texts survived decontamination: {kept_probe[:3]}"
    return True, ""


def llm_corpus(run: Run) -> dict:
    import pyarrow.parquet as pq

    import tables_gen
    from cds_etl_spark import llm_pipeline

    spark = run.start_session()
    data = os.path.join(run.work, "corpus")
    counts: dict[str, int] = {}
    setup_adjust = repeated_setup(lambda: counts.update(tables_gen.write_corpus(data, run.seed)))
    texts = pq.read_table(os.path.join(data, "documents.parquet"), columns=["text"]).column(0).to_pylist()
    probe_texts = set(pq.read_table(os.path.join(data, "probe.parquet"), columns=["text"]).column(0).to_pylist())
    setup_s = time.perf_counter() - T_START + setup_adjust

    if run.trace:
        run.tracer.wrap_namespace(llm_pipeline)
    per_layer: dict[str, float] = {}

    def digest(rows) -> str:
        return hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()

    def op():
        rows, error = None, ""
        overhead0 = run.tracer.overhead_s if run.tracer else 0.0
        with run.span("run") as root:
            t0 = time.perf_counter()
            try:
                with run.span("input.read"):
                    docs = spark.read.parquet(os.path.join(data, "documents.parquet"))
                    probe = spark.read.parquet(os.path.join(data, "probe.parquet"))
                stages = llm_pipeline.prepare_training_data(docs, probe, chunk_budget=CHUNK_BUDGET)
                with run.span("manifest.collect"):
                    rows = stages["manifest"].collect()
            except Exception as e:  # noqa: BLE001
                error = f"{type(e).__name__}: {e}"
            wall = time.perf_counter() - t0
        if rows is None:
            ok, why = False, error
        elif not rows:
            ok, why = False, "empty manifest"
        else:
            ok, why = _check_manifest(rows, probe_texts, texts)
            # Re-evaluating the manifest from the pinned stages must give
            # the same rows (the plan is deterministic).
            if ok and digest(stages["manifest"].collect()) != digest(rows):
                ok, why = False, "manifest differs when collected again"
        run.record(ok, why)
        if root is not None:
            m, s = common_trace_metrics(run, root)
            m.update(span_metrics(s, {
                f"operators.{o}.{k}": (f"operators.{o}", k) for o in OPERATOR_SPANS for k in ("s", "jobs")
            }))
            m["trace.overhead_s"] = run.tracer.overhead_s - overhead0
            per_layer.update(m)
        return wall

    wall = op()  # one cold corpus run per process
    return {
        "end_to_end": {
            "setup_s": setup_s,
            "run_wall_s": wall,
            "rows_per_s": counts["documents"] / wall,
        },
        "per_layer": per_layer,
    }


WORKLOADS = {"cds_batch": cds_batch, "query_heads": query_heads, "llm_corpus": llm_corpus}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    run = Run(args)
    tmp = os.path.join(run.work, "tmp")
    # Keep every file Spark and Python write inside the checkout.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    logging.basicConfig(level=logging.WARNING)
    try:
        import cds_etl_spark.session  # noqa: F401 - fail fast without the engine

        result = WORKLOADS[args.workload](run)
        if args.trace:
            metrics = {k: result["per_layer"].get(k, 0) for k in PER_LAYER}
            units = PER_LAYER
            spans_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(spans_dir, exist_ok=True)
            run.tracer.write(
                os.path.join(spans_dir, f"spans-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "per_layer": metrics},
            )
        else:
            metrics, units = result["end_to_end"], END_TO_END
    finally:
        run.stop()
    for e in run.errors:
        print(f"check failed: {e}", file=sys.stderr)
    out = {
        "correct": run.failed == 0 and not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
