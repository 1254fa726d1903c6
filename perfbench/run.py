"""Seeded benchmark of crimegraft: one workload per fresh process.

    python3 perfbench/run.py --workload engine_keys --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py        # every workload, each in its own process

Run from the repository root. A run generates its inputs from the
seed, sets up a `local[nproc]` session, then runs passes over the
workload's operations back to back (a closed loop with one client):
the first pass is the cold pass, the next ones let the JIT settle, and
measured warm passes follow until `--seconds` have passed and at least
`MIN_WARM_PASSES` ran. Each operation's output is then checked against an oracle,
outside the timed region. The last stdout line is one JSON object with
the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`); see perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import functools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".perfbench")
sys.path[:0] = [HERE, os.path.join(REPO, "tests"), REPO]

import measure  # noqa: E402
import workloads  # noqa: E402

WARMUP_SQL = "SELECT sum(id) FROM range(1000)"

#: Set-ups per untraced run: this process's own, then fresh processes
#: that only set up. `setup_s` is their median. A third set-up (10-15 s)
#: does not fit the time a run has when the host runs slow.
SETUP_SAMPLES = 2

#: Passes before the measured ones: the cold pass, then two while the
#: JIT still compiles (CPU per pass falls by a third or more over them).
WARMUP_PASSES = 3

#: Measured passes an untraced run needs at least, so that `cpu_s`
#: and `pass_s` are medians of several samples.
MIN_WARM_PASSES = 4

#: Traced runs alternate untraced and traced warm passes; each kind
#: needs this many for the tracing overhead.
MIN_PASSES_PER_KIND = 2

#: Seconds a child process (a set-up or a whole workload) may take.
CHILD_TIMEOUT_S = 300


def load_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv, spec: dict):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS),
                    help="omit to run every workload, each in its own process")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Internal: set up once, print the set-up time and exit.
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def record_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(STATE, "records", f"{workload}-seed{seed}-trace{trace}.json")


# --------------------------------------------------------------------------
# Run hygiene and set-up
# --------------------------------------------------------------------------


def hygiene_env(work: str, nproc: int) -> dict[str, str]:
    """Point every temp and scratch location the session uses into
    `work`; returns Spark conf for the same."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
    })
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}/derby "
            "-XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def relocate_scratch(work: str) -> None:
    """Serve the library's fixed /tmp scratch from `work`: derived
    fixtures (`fixtures.scratch_dir`, under `work/fixtures`) and the
    directories that expose a table to file-stream sources
    (`stream_events._stream_src`, under `work/stream_src`).

    Must run before the operator modules are imported. The fixture key
    under the root (input path and table fingerprints) is the
    library's own, so fixture reuse behaves as it does under /tmp.
    """
    from crime_data_batch_processing_spark import fixtures

    original = fixtures.scratch_dir
    fixture_root = os.path.join(work, "fixtures")

    @functools.wraps(original)
    def scratch_dir(kind, sf_dir, *tables):
        return fixture_root + original(kind, sf_dir, *tables)[len("/tmp"):]

    fixtures.scratch_dir = scratch_dir

    from crime_data_batch_processing_spark.streaming import stream_events

    def stream_src(sf_dir: str, table: str = "events") -> str:
        # A run has one input tree, so the table name is key enough.
        src = os.path.join(work, "stream_src", table)
        link = os.path.join(src, f"{table}.parquet")
        if not os.path.lexists(link):
            os.makedirs(src, exist_ok=True)
            os.symlink(os.path.join(os.path.abspath(sf_dir), f"{table}.parquet"), link)
        return src

    stream_events._stream_src = stream_src


def set_up(work: str, nproc: int):
    """Import and register the operators, start the session and run one
    warm-up job. Returns the session and each phase's (start, end)."""
    spark_conf = hygiene_env(work, nproc)
    t0 = time.monotonic()
    relocate_scratch(work)
    from crime_data_batch_processing_spark import registry
    from crime_data_batch_processing_spark.session import get_spark

    registry.load_all_operators()
    t1 = time.monotonic()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf)
    t2 = time.monotonic()
    spark.sql(WARMUP_SQL).collect()
    t3 = time.monotonic()
    return spark, {"session.import_s": (t0, t1),
                   "session.get_spark_s": (t1, t2),
                   "session.warm_s": (t2, t3)}


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited (it exits
    when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=CHILD_TIMEOUT_S)


def setup_only(workload: str, nproc: int) -> int:
    """One set-up in this fresh process; prints its time."""
    work = os.path.join(STATE, "work", f"{workload}-setup")
    shutil.rmtree(work, ignore_errors=True)
    try:
        spark, phases = set_up(work, nproc)
        ready = phases["session.warm_s"][1]
        stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"setup_s": ready - T_PROCESS}))
    return 0


def setup_samples(workload: str, n: int) -> list[float]:
    """Set-up times of `n` fresh processes, run one after another."""
    out = []
    for _ in range(n):
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", workload,
             "--setup-only"],
            cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, timeout=CHILD_TIMEOUT_S, check=True,
        )
        out.append(json.loads(p.stdout.strip().splitlines()[-1])["setup_s"])
    return out


def _git_commit(repo: str) -> str | None:
    head = os.path.join(repo, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    ref = open(head).read().strip()
    if not ref.startswith("ref: "):
        return ref
    ref = ref[5:]
    loose = os.path.join(repo, ".git", ref)
    if os.path.exists(loose):
        return open(loose).read().strip()
    packed = os.path.join(repo, ".git", "packed-refs")
    if os.path.exists(packed):
        for line in open(packed):
            if line.rstrip().endswith(" " + ref):
                return line.split()[0]
    return None


def count_markers(root: str) -> int:
    return sum("_BUILD_OK" in files for _, _, files in os.walk(root))


def tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under `path` whose names end with `suffix`."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def parts_bytes(op) -> tuple[int, int]:
    """(files, bytes) of parquet in the partitions `op` writes."""
    sizes = [tree_bytes(p, ".parquet") for p in op.out_parts]
    return sum(n for n, _ in sizes), sum(b for _, b in sizes)


# --------------------------------------------------------------------------
# Timed passes and the traced view of them
# --------------------------------------------------------------------------


class Runner:
    """Runs passes of operations; with tracing on for a pass, also
    records spans and attributes Spark jobs, SQL executions and
    streaming triggers to the operation and layer they ran in."""

    def __init__(self, spark, fixture_root: str, trace: bool):
        self.spark = spark
        self.fixture_root = fixture_root
        self.spans: list[dict] = []
        self.passes: list[dict] = []
        if trace:
            from spark_probe import StatusReader, TriggerLog

            self.reader = StatusReader(spark)
            self.triggers = TriggerLog()

    def span(self, name, parent, start, end, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return sid

    def run_pass(self, order, traced: bool, parent: int) -> dict:
        from crime_data_batch_processing_spark import cachekit

        if traced:
            self.reader.skip_to_now()
            self.spark.streams.addListener(self.triggers)
        cpu0 = measure.split_cpu(measure.read_procs(), os.getpid())
        t0 = time.time()
        recs = [self.run_op(op, cachekit, traced) for op in order]
        t1 = time.time()
        cpu1 = measure.split_cpu(measure.read_procs(), os.getpid())
        if traced:
            self.reader.drain()  # deliver this pass's trigger events
            self.spark.streams.removeListener(self.triggers)
        rec = {"index": len(self.passes), "traced": traced, "start": t0,
               "end": t1, "wall_s": t1 - t0, "ops": recs,
               "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0}}
        rec["span"] = self.span("pass", parent, t0, t1, index=rec["index"],
                                traced=traced)
        for r in recs:
            self._op_spans(r, rec["span"])
        self.passes.append(rec)
        return rec

    def run_op(self, op, cachekit, traced: bool) -> dict:
        windows: list[tuple[str, float, float]] = []

        @contextlib.contextmanager
        def stage(name):
            s = time.time()
            try:
                yield
            finally:
                windows.append((name, s, time.time()))

        markers0 = count_markers(self.fixture_root) if traced else 0
        t0 = time.time()
        error = None
        try:
            op.run(stage)
        except Exception as exc:  # a failed operation is counted, not fatal
            error = f"{type(exc).__name__}: {exc}"[:500]
        t1 = time.time()
        rec = {"op": op.name, "start": t0, "end": t1, "wall_s": t1 - t0,
               "error": error, "windows": windows}
        if traced:
            from spark_probe import storage_mb

            rec["persisted_mb"] = storage_mb(self.spark)
        rec["released"] = cachekit.release_all()
        if traced:
            self.reader.drain()
            rec["jobs"] = self.reader.new_jobs()
            rec["execs"] = self.reader.new_executions()
            rec["fixture_builds"] = count_markers(self.fixture_root) - markers0
            rec["in_bytes"] = op.in_bytes
            rec["files_written"], rec["bytes_written"] = parts_bytes(op)
            if op.out_parts:
                rec["part_bytes"] = tree_bytes(op.out_parts[0], ".parquet")[1]
        return rec

    def _op_spans(self, rec: dict, parent: int) -> None:
        rec["span"] = self.span("operation", parent, rec["start"], rec["end"],
                                op=rec["op"], error=rec["error"])
        if "jobs" not in rec:
            return
        wins = [(self.span(name, rec["span"], s, e), s, e)
                for name, s, e in rec["windows"]]
        rec["stage_spans"] = {sid: name for (sid, _, _), (name, _, _)
                              in zip(wins, rec["windows"])}
        wins.append((rec["span"], rec["start"], rec["end"]))
        for j, sid in zip(rec["jobs"], measure.attribute(
                wins, [j["submitted"] for j in rec["jobs"]])):
            j["span"] = sid
            self.span("spark.job", sid, j["submitted"],
                      j["completed"] or j["submitted"], job_id=j["job_id"])
        for x, sid in zip(rec["execs"], measure.attribute(
                wins, [x["submitted"] for x in rec["execs"]])):
            x["span"] = sid

    def attribute_triggers(self) -> None:
        """Give each streaming trigger to the traced operation whose
        window holds its start (call after the listener bus drained)."""
        ops = [r for p in self.passes if p["traced"] for r in p["ops"]]
        for r in ops:
            r["triggers"] = []
        wins = [(i, r["start"], r["end"]) for i, r in enumerate(ops)]
        trig = self.triggers.triggers
        for t, i in zip(trig, measure.attribute(wins, [t["start"] for t in trig])):
            if i is not None:
                ops[i]["triggers"].append(t)
                self.span("streaming.trigger", ops[i]["span"], t["start"],
                          t["end"], query=t["query"])


def enough_passes(passes: list[dict], trace: bool) -> bool:
    warm = passes[WARMUP_PASSES:]
    if not trace:
        return len(warm) >= MIN_WARM_PASSES
    traced = sum(p["traced"] for p in warm)
    return min(traced, len(warm) - traced) >= MIN_PASSES_PER_KIND


# --------------------------------------------------------------------------
# Metrics
# --------------------------------------------------------------------------

EXEC_STAGES = ("operators.exec", "sinks.ingest_snapshot", "sinks.query_result")


def end_to_end(passes, setup_s: float, peak_rss_mb: float) -> tuple[dict, dict]:
    """End-to-end metrics from the untraced warm passes, plus notes.

    The other figures are notes, not declared metrics: wall times
    (`pass_s`, `op_p50_s`) stretch with the host's CPU steal, which
    changes from run to run; a run has one cold pass and too few warm
    operations for a tail percentile (the rule falls back to the
    maximum); and the JVM's heap growth varies from run to run. Each
    has spread between runs, in some series of ten, by more than the
    largest bound BENCHMARK.json may set.
    """
    warm = [p for p in passes[WARMUP_PASSES:] if not p["traced"]]
    op_walls = [r["wall_s"] for p in warm for r in p["ops"]]
    tail_v, tail_p, n = measure.tail(op_walls)
    metrics = {
        "setup_s": setup_s,
        "cpu_s": measure.median([sum(p["cpu"].values()) for p in warm]),
    }
    notes = {"pass_s": measure.median([p["wall_s"] for p in warm]),
             "cold_pass_s": passes[0]["wall_s"],
             "op_p50_s": measure.median(op_walls), "op_tail_s": tail_v,
             "op_tail_pct": tail_p, "op_samples": n, "peak_rss_mb": peak_rss_mb,
             "warm_passes": len(warm)}
    return metrics, notes


def pass_layers(p: dict, nproc: int) -> dict:
    """Per-layer totals of one traced pass."""
    m: dict[str, float] = {}

    def add(k, v):
        m[k] = m.get(k, 0.0) + v

    for r in p["ops"]:
        for name, s, e in r["windows"]:
            add(f"stage:{name}", e - s)
        add("unaccounted_s",
            r["wall_s"] - sum(e - s for _, s, e in r["windows"]))
        layer = r["stage_spans"]
        for j in r["jobs"]:
            add("task_cpu_all_s", j.get("task_cpu_s", 0.0))
            if layer.get(j["span"]) == "registry.build":
                add("build_jobs", 1)
            if layer.get(j["span"]) in EXEC_STAGES:
                add("exec_jobs", 1)
                for f in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                          "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                          "input_mb"):
                    add(f, j.get(f, 0.0))
        for x in r["execs"]:
            for f in ("py_run_s", "py_start_s", "py_init_s", "to_py_mb",
                      "from_py_mb"):
                add(f, x.get(f, 0.0))
            if layer.get(x["span"]) == "sinks.query_result":
                add("files_read_mb", x.get("files_read_mb", 0.0))
        add("persisted_mb", r["persisted_mb"])
        add("released", r["released"])
        add("files_written", r["files_written"])
        add("bytes_written", r["bytes_written"])
        add("in_bytes", r["in_bytes"])
        add("part_bytes", r.get("part_bytes", 0))
        trig = r.get("triggers", [])
        for t in trig:
            for f in ("input_rows", "trigger_s", "add_batch_s", "planning_s",
                      "offsets_s", "commit_s"):
                add(f"trig:{f}", t[f])
            m["state_mb"] = max(m.get("state_mb", 0.0), t["state_mb"])
        add("triggers", len(trig))
        if trig:
            add("outside_trigger_s", r["wall_s"] - sum(t["trigger_s"] for t in trig))

    def g(k):
        return m.get(k, 0.0)

    build_s = g("stage:registry.build")
    exec_s = sum(g(f"stage:{s}") for s in EXEC_STAGES)
    return {
        "registry.build_s": build_s,
        "registry.build_jobs": g("build_jobs"),
        "registry.build_share": build_s / (build_s + exec_s) if build_s + exec_s else 0.0,
        "operators.exec_s": exec_s,
        "operators.jobs": g("exec_jobs"),
        "operators.stages": g("stages"),
        "operators.tasks": g("tasks"),
        "operators.task_run_s": g("task_run_s"),
        "operators.task_cpu_s": g("task_cpu_s"),
        "operators.gc_s": g("gc_s"),
        "operators.shuffle_read_mb": g("shuffle_read_mb"),
        "operators.shuffle_write_mb": g("shuffle_write_mb"),
        "operators.spill_mb": g("spill_mb"),
        "operators.input_mb": g("input_mb"),
        "operators.core_busy_frac": g("task_run_s") / (nproc * exec_s) if exec_s else 0.0,
        "proc.driver_py_cpu_s": p["cpu"]["driver_py"],
        "proc.jvm_cpu_s": p["cpu"]["jvm"],
        "proc.jvm_nontask_cpu_s": p["cpu"]["jvm"] - g("task_cpu_all_s"),
        "proc.py_worker_cpu_s": p["cpu"]["py_worker"],
        "functions.py_run_s": g("py_run_s"),
        "functions.py_start_s": g("py_start_s"),
        "functions.py_init_s": g("py_init_s"),
        "functions.to_py_mb": g("to_py_mb"),
        "functions.from_py_mb": g("from_py_mb"),
        "cachekit.released": g("released"),
        "cachekit.persisted_mb": g("persisted_mb"),
        "sinks.ingest_snapshot_s": g("stage:sinks.ingest_snapshot"),
        "sinks.query_result_s": g("stage:sinks.query_result"),
        "sinks.files_written": g("files_written"),
        "sinks.bytes_written_mb": g("bytes_written") / 2**20,
        "sinks.out_bytes_per_in_byte": g("bytes_written") / g("in_bytes") if g("in_bytes") else 0.0,
        "sources.read_amplification": g("files_read_mb") * 2**20 / g("part_bytes") if g("part_bytes") else 0.0,
        "streaming.triggers": g("triggers"),
        "streaming.input_rows": g("trig:input_rows"),
        "streaming.trigger_s": g("trig:trigger_s"),
        "streaming.add_batch_s": g("trig:add_batch_s"),
        "streaming.planning_s": g("trig:planning_s"),
        "streaming.offsets_s": g("trig:offsets_s"),
        "streaming.commit_s": g("trig:commit_s"),
        "streaming.outside_trigger_s": g("outside_trigger_s"),
        "streaming.state_mb": g("state_mb"),
        "trace.unaccounted_s": g("unaccounted_s"),
    }


def per_layer(runner: Runner, session: dict, nproc: int) -> dict:
    """Per-layer metrics: medians over the traced warm passes, the
    session phases, run totals for fixtures, and the tracing overhead
    (median traced minus median untraced warm pass)."""
    warm = runner.passes[WARMUP_PASSES:]
    traced = [pass_layers(p, nproc) for p in warm if p["traced"]]
    out = {k: measure.median([t[k] for t in traced]) for k in traced[0]}
    out.update(session)
    out["fixtures.builds"] = sum(
        r["fixture_builds"] for p in runner.passes if p["traced"] for r in p["ops"]
    )
    out["fixtures.scratch_mb"] = tree_bytes(runner.fixture_root)[1] / 2**20
    out["trace.overhead_s"] = (
        measure.median([p["wall_s"] for p in warm if p["traced"]])
        - measure.median([p["wall_s"] for p in warm if not p["traced"]])
    )
    out["trace.spans"] = len(runner.spans)
    return out


# --------------------------------------------------------------------------
# Main
# --------------------------------------------------------------------------


def stamps(spark, seed: int, nproc: int) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": nproc,
        "spark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "duckdb": duckdb.__version__,
        "git_commit": _git_commit(REPO),
        "seed": seed,
        "loadavg_start": os.getloadavg(),
    }


def run_workload(args, spec: dict, nproc: int) -> int:
    declared = {kind: {m["name"]: m["unit"] for m in spec[kind]}
                for kind in ("end_to_end", "per_layer")}
    wl = workloads.WORKLOADS[args.workload]
    work = os.path.join(STATE, "work", wl.name)
    load0 = os.getloadavg()

    t_inputs = time.monotonic()
    shutil.rmtree(work, ignore_errors=True)
    days = workloads.make_inputs(wl, REPO, work, args.seed)
    gen_s = time.monotonic() - t_inputs

    t_epoch, t_mono = time.time(), time.monotonic()
    spark, phases = set_up(work, nproc)
    setup_s = phases["session.warm_s"][1] - T_PROCESS - gen_s
    session = {name: b - a for name, (a, b) in phases.items()}

    def epoch(t):
        return t_epoch + t - t_mono

    try:
        ops = workloads.make_ops(spark, wl, work, days)
        runner = Runner(spark, os.path.join(work, "fixtures"), bool(args.trace))
        rng = random.Random(args.seed)
        root = runner.span("run", None, epoch(T_PROCESS), 0.0,
                           workload=wl.name, seed=args.seed)
        for name, (a, b) in phases.items():
            runner.span(name[:-2], root, epoch(a), epoch(b))
        w_span = runner.span("workload", root, time.time(), 0.0, workload=wl.name)
        t_measure = None
        while True:
            n = len(runner.passes)
            # traced runs: cold pass traced, warm passes alternate
            # untraced / traced so the overhead is measured in-process
            traced = bool(args.trace) and n % 2 == 0
            runner.run_pass(rng.sample(ops, len(ops)), traced, w_span)
            if len(runner.passes) == WARMUP_PASSES:
                t_measure = time.monotonic()  # the measured passes start here
            elif (t_measure is not None
                  and enough_passes(runner.passes, bool(args.trace))
                  and time.monotonic() - t_measure >= args.seconds):
                break
        runner.spans[w_span]["end"] = time.time()
        peak_rss_mb = measure.tree_hwm_mb(measure.read_procs(), os.getpid())

        # ---- output checks, outside the timed region ----
        verdicts, written = {}, 0
        for op in ops:
            try:
                verdicts[op.name] = op.check()
            except Exception as exc:
                verdicts[op.name] = f"{type(exc).__name__}: {exc}"[:500]
            written += parts_bytes(op)[1]
        all_ops = [r for p in runner.passes for r in p["ops"]]
        attempted = len(all_ops) + len(ops)
        failed = sum(
            1 for r in all_ops if r["error"] or verdicts[r["op"]]
        ) + sum(1 for v in verdicts.values() if v)
        in_bytes = sum(op.in_bytes for op in ops)

        record = {"workload": wl.name, "trace": args.trace,
                  "stamps": stamps(spark, args.seed, nproc),
                  "seconds": args.seconds, "gen_s": gen_s,
                  "checks": verdicts, "attempted": attempted, "failed": failed,
                  "ops_failed_frac": failed / attempted,
                  "out_bytes_per_in_byte": written / in_bytes if in_bytes else None}
        if args.trace:
            runner.reader.drain()
            runner.attribute_triggers()
            metrics = per_layer(runner, session, nproc)
            runner.spans[root]["end"] = time.time()
            selfs = measure.self_times(runner.spans)
            for s in runner.spans:
                s["self_s"] = selfs[s["id"]]
            record["spans"] = runner.spans
            kind = "per_layer"
        else:
            kind = "end_to_end"
        record["passes"] = [
            {"wall_s": p["wall_s"], "traced": p["traced"], "cpu": p["cpu"],
             "ops": {r["op"]: r["wall_s"] for r in p["ops"]}}
            for p in runner.passes
        ]
    finally:
        stop_spark(spark)
    if not args.trace:
        samples = [setup_s] + setup_samples(wl.name, SETUP_SAMPLES - 1)
        metrics, notes = end_to_end(runner.passes, measure.median(samples),
                                    peak_rss_mb)
        record.update(notes, setup_samples=samples)
    record["stamps"]["loadavg_end"] = os.getloadavg()
    record["stamps"]["loadavg_before_inputs"] = load0
    shutil.rmtree(work, ignore_errors=True)

    if set(metrics) != set(declared[kind]):
        raise SystemExit(
            f"metric set differs from BENCHMARK.json {kind}: "
            f"{sorted(set(metrics) ^ set(declared[kind]))}"
        )
    record["metrics"] = metrics
    out = record_path(wl.name, args.seed, args.trace)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    bad = {k: v for k, v in verdicts.items() if v}
    print(f"# {wl.name}: {len(runner.passes)} passes, failed checks: {bad or 'none'}; "
          f"record {os.path.relpath(out, REPO)}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": declared[kind][k]}
                    for k, v in sorted(metrics.items())},
    }))
    return 0


def run_all(args) -> int:
    """Run every workload in its own fresh process and print each
    metric with its unit and the output-check verdict. The last line
    is one JSON object over all workloads."""
    results, ok = {}, True
    for name in workloads.WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=REPO, stdout=subprocess.PIPE, text=True,
            timeout=CHILD_TIMEOUT_S * (SETUP_SAMPLES + 1),
        )
        if p.returncode != 0:
            print(f"{name}: exit code {p.returncode}")
            ok = False
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        with open(record_path(name, args.seed, args.trace)) as f:
            rec = json.load(f)
        results[name] = res
        verdict = "correct" if res["correct"] else "INCORRECT"
        print(f"{name}: {verdict}, {res['failed']} of {res['attempted']} "
              "operations failed")
        for k, m in res["metrics"].items():
            print(f"  {k:<32} {m['value']:12.4f} {m['unit']}")
        # reported but not declared in BENCHMARK.json (see README.md)
        extra = [("ops_failed_frac", rec["ops_failed_frac"], "ratio")]
        if not args.trace:
            extra += [("pass_s", rec["pass_s"], "s"),
                      ("cold_pass_s", rec["cold_pass_s"], "s"),
                      ("op_p50_s", rec["op_p50_s"], "s"),
                      (f"op_tail_s (p{rec['op_tail_pct']:g} of "
                       f"{rec['op_samples']})", rec["op_tail_s"], "s"),
                      ("peak_rss_mb", rec["peak_rss_mb"], "MB")]
        if rec["out_bytes_per_in_byte"] is not None:
            extra.append(("out_bytes_per_in_byte", rec["out_bytes_per_in_byte"],
                          "ratio"))
        for k, v, unit in extra:
            print(f"  {k:<32} {v:12.4f} {unit}")
    print(json.dumps({
        "correct": ok and all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "workloads": {n: r["metrics"] for n, r in results.items()},
    }))
    return 0 if ok else 1


def main(argv=None) -> int:
    spec = load_spec()
    args = parse_args(argv, spec)
    if args.workload is None:
        return run_all(args)
    nproc = len(os.sched_getaffinity(0))
    if args.setup_only:
        return setup_only(args.workload, nproc)
    return run_workload(args, spec, nproc)


if __name__ == "__main__":
    sys.exit(main())
