"""Layered benchmark of the gomrjob_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload mr_jobs --seed 1 --seconds 12 --trace 0

One process, one SparkSession on ``local[$SPARK_GRAFT_CPUS]`` (default:
the CPUs this process may use), one client running ops strictly one
after another (a closed loop). A run

1. sets up, timed from process start (``setup_s``): ``import
   gomrjob_spark.plans``, ``get_session()`` and a trivial action;
2. generates the inputs (untimed): the registry tables once per
   checkout, the MapReduce line files from ``--seed``;
3. runs a cold pass over the workload's ops (``cold_s``), one warm-up
   pass, then warm passes for about ``--seconds`` (at least two);
4. checks each op's latest result once (untimed): registry queries
   against the DuckDB oracle, MapReduce jobs against goldens the
   generator computed;
5. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``), and writes every span to
   ``.perfbench/traces/<workload>-seed<seed>-trace<t>.json``;
6. before it prints, stops the session and its JVM and waits until
   every process it started has ended; a failed or SIGTERM'd run does
   the same on its way out.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import re
import resource
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import combine_ratio, fail_ratio, median, self_times, tail  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
MIN_WARM_PASSES = 2
#: the registry tables are fixed; ``--seed`` drives the MapReduce inputs
TABLE_SEED = 42
MR_JSON_LINES = 100_000
MR_KV_LINES = 100_000
MR_KEYS = 200

_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange|ShuffleExchange)\b")
_PYTHON_NODE = re.compile(
    r"\b(?:MapInPandas|MapInArrow|PythonMapInArrow|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas"
    r"|ArrowEvalPython|BatchEvalPython|AggregateInPandas|WindowInPandas"
    r"|FlatMapGroupsInPandasWithState)\b"
)


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def canary() -> float:
    """A fixed pure-Python loop: how fast this host runs Python right
    now, independent of the engine."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(400_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def _session_conf(traced: bool) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    # keep the JVM's temporary files inside the checkout too
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if traced:
        conf["spark.sql.pyspark.udf.profiler"] = "perf"
    return conf


def setup_session(traced: bool):
    """The measured set-up: import, session, first trivial action."""
    t0 = time.perf_counter()
    import gomrjob_spark.plans  # noqa: F401
    from gomrjob_spark.session import get_session

    t1 = time.perf_counter()
    spark = get_session(cpus=_cpus(), extra_conf=_session_conf(traced))
    t2 = time.perf_counter()
    spark.range(1).count()
    t3 = time.perf_counter()
    return spark, {
        "setup_s": _process_age_s(),
        "import_s": t1 - t0,
        "get_session_s": t2 - t1,
        "first_action_s": t3 - t2,
    }


# -- measurement helpers --------------------------------------------------------


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this process's max RSS."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the ``part-*`` files under ``path``."""
    if not os.path.isdir(path):
        return 0, 0
    sizes = [
        os.path.getsize(os.path.join(path, n)) for n in os.listdir(path) if n.startswith("part-")
    ]
    return sum(sizes), len(sizes)


class Runner:
    """Runs one workload's passes and keeps what they measured."""

    def __init__(self, spark, tracer, ctx, ops, traced: bool) -> None:
        from gomrjob_spark.counters import StreamProgressListener

        self.spark = spark
        self.tr = tracer
        self.ctx = ctx
        self.ops = ops
        self.traced = traced
        self.passes: list[dict] = []
        self.failures: list[dict] = []
        self.attempted = 0
        self.events: list[dict] = []
        self._where: tuple[str, int] = ("", -1)
        self.listener = StreamProgressListener(self._on_batch).attach(spark)

    def _on_batch(self, ev: dict) -> None:
        op, idx = self._where
        self.events.append({**ev, "op": op, "pass": idx})

    def _flush_listener(self) -> None:
        # stream progress reaches Python on the listener bus thread; an
        # empty bus means every batch of the finished op was delivered
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def run_pass(self, kind: str, traced: bool) -> dict:
        from gomrjob_spark.cache import release_scoped

        idx = len(self.passes)
        self.tr.enabled = traced
        rec = {"idx": idx, "kind": kind, "warm": kind == "warm", "traced": traced, "ops": []}
        with self.tr.span("pass", op="", pass_idx=idx) as ps:
            for op in self.ops:
                self._where = (op.name, idx)
                self.attempted += 1
                try:
                    with self.tr.span("op", op=op.name, kind=op.kind, pass_idx=idx) as s:
                        self.ctx.results[op.name] = op.execute(self.ctx)
                except Exception as e:  # an op failure is a measured outcome
                    traceback.print_exc(file=sys.stderr)
                    s["error"] = repr(e)[:500]
                    self.failures.append({"op": op.name, "pass": idx, "error": repr(e)[:500]})
                    self.ctx.results.pop(op.name, None)
                with self.tr.span("release", op=op.name, pass_idx=idx) as r:
                    r["released"] = release_scoped()
                    if op.streaming:
                        self._flush_listener()
                rec["ops"].append({"op": op.name, "kind": op.kind, "span": s["id"]})
        rec["span"] = ps["id"]
        rec["wall_s"] = ps["end"] - ps["start"]
        self._where = ("", -1)
        if traced:
            self._collect_traced(rec)
        for s in self.tr.spans[ps["id"]:]:
            s.pop("plan", None)  # JVM handles; plan metrics are taken
        self.passes.append(rec)
        return rec

    def _collect_traced(self, rec: dict) -> None:
        """Roll up status-store metrics and plan shapes for the pass just
        run; runs after the pass span closed, so it is not in wall_s."""
        for s in self.tr.spans[rec["span"]:]:
            if s["name"] in ("build", "plan", "run"):
                s["rollup"] = self.tr.rollup(s)
            if "plan" in s:
                text = s["plan"].toString()
                s["exchanges"] = len(_EXCHANGE.findall(text))
                s["python_nodes"] = len(_PYTHON_NODE.findall(text))
        collector = getattr(self.spark, "_profiler_collector", None)
        results = collector._perf_profile_results if collector is not None else {}
        rec["udf_s"] = sum(st.total_tt for st in results.values())
        self.spark.profile.clear(type="perf")

    def run(self, seconds: float) -> None:
        """A cold pass, one warm-up pass (the JIT is still compiling the
        hot paths; timed but not a warm pass), then warm passes for
        ``seconds``: at least ``MIN_WARM_PASSES``, and another only if it
        should end in time. A traced run slips one untraced pass in
        after its first warm pass: traced minus untraced wall_s is the
        tracing overhead."""
        self.run_pass("cold", traced=self.traced)
        self.run_pass("warmup", traced=self.traced)
        t0 = time.perf_counter()
        for n in itertools.count(1):
            last = self.run_pass("warm", traced=self.traced)["wall_s"]
            if self.traced and n == 1:
                self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
                self.run_pass("warm", traced=False)
                self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            if n >= MIN_WARM_PASSES and time.perf_counter() - t0 + last > seconds:
                break

    def check(self) -> list[dict]:
        """Each op's latest result against its oracle or golden, once."""
        mismatches = []
        for op in self.ops:
            if op.name not in self.ctx.results:
                continue  # the op raised; already counted
            try:
                op.check(self.ctx, self.ctx.results[op.name])
            except Exception as e:  # a wrong result is a measured outcome
                mismatches.append({"op": op.name, "error": str(e)[:1000]})
        return mismatches

    def close(self) -> None:
        self.listener.detach(self.spark)


# -- metrics ------------------------------------------------------------------------


def _span_s(s: dict) -> float:
    return s["end"] - s["start"]


def _children(tr) -> dict[int, list[dict]]:
    kids: dict[int, list[dict]] = {}
    for s in tr.spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    return kids


def op_rows(tr, passes: list[dict]) -> list[dict]:
    """Per-op breakdown: op latency and the build/plan/run spans under it."""
    by_id = {s["id"]: s for s in tr.spans}
    kids = _children(tr)
    rows = []
    for p in passes:
        for o in p["ops"]:
            s = by_id[o["span"]]
            row = {
                "pass": p["idx"], "pass_kind": p["kind"], "traced": p["traced"], "op": o["op"],
                "kind": o["kind"], "op_s": _span_s(s), "error": "error" in s,
            }
            for ph in ("build", "plan", "run"):
                row[f"{ph}_s"] = sum(_span_s(c) for c in kids.get(s["id"], []) if c["name"] == ph)
            if p["traced"]:
                row["py4j_calls"] = s.get("py4j_calls", 0)
            row["phases_cover"] = (row["build_s"] + row["plan_s"] + row["run_s"]) / row["op_s"]
            rows.append(row)
    return rows


def py4j_spread(rows: list[dict]) -> dict[str, dict]:
    """py4j round trips per op over the traced warm passes: the counts
    are not exact (garbage-collection detach commands land wherever
    Python collects), so report their range."""
    by_op: dict[str, list[int]] = {}
    for r in rows:
        if r["pass_kind"] == "warm" and "py4j_calls" in r:
            by_op.setdefault(r["op"], []).append(r["py4j_calls"])
    return {
        op: {"min": min(v), "median": median(v), "max": max(v), "n": len(v)}
        for op, v in by_op.items()
    }


def end_to_end(runner: Runner, setup: dict, n_input: int, rss: float) -> tuple[dict, dict]:
    warm = [p for p in runner.passes if p["warm"]]
    lat = [r["op_s"] for r in op_rows(runner.tr, warm)]
    wall = median([p["wall_s"] for p in warm])
    op_tail, op_pct, op_n = tail(lat)
    metrics = {
        "setup_s": setup["setup_s"],
        "cold_s": runner.passes[0]["wall_s"],
        "wall_s": wall,
        "op_p50_s": median(lat),
        "op_tail_s": op_tail,
        "lines_per_s": n_input / wall,
        "peak_rss_mb": rss,
    }
    return metrics, {"op_tail_pct": op_pct, "op_n": op_n}


def _pass_totals(runner: Runner, p: dict) -> dict[str, float]:
    """Per-layer totals of one traced pass."""
    tr = runner.tr
    kids = _children(tr)
    t: dict[str, float] = {}

    def add(k: str, v: float) -> None:
        t[k] = t.get(k, 0.0) + v

    for o in p["ops"]:
        mr = o["kind"] == "mr"
        for s in kids.get(o["span"], []):
            d, ru = _span_s(s), s.get("rollup") or {}
            if s["name"] == "build":
                if mr:
                    add("pipeline.construct_s", d)
                    continue
                add("plans.build_s", d)
                add("plans.fit_s", ru.get("job_covered_s", 0.0))
                add("plans.fit_jobs", ru.get("jobs", 0))
                add("plans.fit_stages", ru.get("stages", 0))
                add("plans.py4j_calls", s.get("py4j_calls", 0))
            elif s["name"] == "plan":
                add("catalyst.plan_s", d)
                add("catalyst.exchanges", s.get("exchanges", 0))
                add("catalyst.python_nodes", s.get("python_nodes", 0))
            elif s["name"] == "run":
                add("run.s", d)
                add("run.py4j_calls", s.get("py4j_calls", 0))
                add("run.executor_cpu_s", ru.get("executor_cpu_ns", 0) / 1e9)
                add("run.executor_run_s", ru.get("executor_run_ms", 0) / 1e3)
                add("run.spill_bytes", ru.get("memory_spill_bytes", 0) + ru.get("disk_spill_bytes", 0))
                for k in ("jobs", "stages", "tasks", "failed_tasks", "input_bytes",
                          "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_write_records"):
                    add(f"run.{k}", ru.get(k, 0))
                if o["op"] == "hot_key_max":
                    add("pipeline.combine_ratio", combine_ratio(ru.get("stage_rows", [])))
    for s in tr.spans:
        if s["name"] == "release" and s.get("pass_idx") == p["idx"]:
            add("cache.released", s["released"])
            add("cache.release_s", _span_s(s))
    batch_ms = [e["batch_duration_ms"] for e in runner.events if e["pass"] == p["idx"]]
    add("streaming.batches", len(batch_ms))
    add("streaming.input_rows", sum(e["num_input_rows"] for e in runner.events if e["pass"] == p["idx"]))
    add("streaming.batch_ms", sum(batch_ms))
    add("python.udf_s", p.get("udf_s", 0.0))
    t["plans.build_self_s"] = t.get("plans.build_s", 0.0) - t.get("plans.fit_s", 0.0)
    return t


def per_layer(runner: Runner, setup: dict, run_totals: dict) -> dict:
    """Per-pass totals, median over the traced warm passes, plus the
    once-per-run figures in ``run_totals``."""
    traced = [p for p in runner.passes if p["warm"] and p["traced"]]
    untraced = [p["wall_s"] for p in runner.passes if p["warm"] and not p["traced"]]
    totals = [_pass_totals(runner, p) for p in traced]
    keys = {k for t in totals for k in t}
    out = {k: median([t.get(k, 0.0) for t in totals]) for k in keys}
    out["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - median(untraced)
    batch_ms = [e["batch_duration_ms"] for e in runner.events if e["pass"] in {p["idx"] for p in traced}]
    out["streaming.batch_p50_ms"] = median(batch_ms)
    out["streaming.batch_tail_ms"] = tail(batch_ms)[0]
    out["session.import_s"] = setup["import_s"]
    out["session.get_session_s"] = setup["get_session_s"]
    out.update(run_totals)
    return out


def mr_side_checks(spark, mr, out_dir: str) -> tuple[dict, list[dict]]:
    """Protocol counters against the generator's counts, and the bytes
    and files the line sources read and wrote in one pass."""
    from gomrjob_spark.protocols import count_malformed_kv, read_json_lines
    from gomrjob_spark.sources.lines import read_lines

    malformed = count_malformed_kv(read_lines(spark, mr.kv_dir + "/part-*")).first()[0]
    bad_json = read_json_lines(spark, mr.json_dir + "/part-*")[1].first()[0]
    mismatches = [
        {"op": name, "error": f"counted {got}, generated {want}"}
        for name, got, want in (
            ("protocols.malformed_lines", malformed, mr.malformed_kv_lines),
            ("protocols.bad_json_lines", bad_json, mr.bad_json_lines),
        )
        if got != want
    ]
    in_json, _ = dir_stats(mr.json_dir)
    in_kv, _ = dir_stats(mr.kv_dir)
    outs = {j: dir_stats(os.path.join(out_dir, j)) for j in ("field_count", "hot_key_max", "chain_step1", "chain_step2")}
    return {
        "protocols.malformed_lines": malformed,
        "protocols.bad_json_lines": bad_json,
        # field_count and chain step 1 read the JSON lines, hot_key_max
        # the kv lines, chain step 2 chain step 1's output
        "sources.bytes_read": 2 * in_json + in_kv + outs["chain_step1"][0],
        "sources.bytes_written": sum(b for b, _ in outs.values()),
        "sources.files_written": sum(n for _, n in outs.values()),
    }, mismatches


# -- main -----------------------------------------------------------------------------


def _prepare_env() -> None:
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Python workers unpickle the engine's and the benchmark's functions
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)


def _exit_on_sigterm(signum, frame) -> None:
    # unwind through main's ``finally`` so the engine's processes are stopped
    raise SystemExit(128 + signum)


def _parents() -> dict[int, int]:
    """pid -> parent pid of every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            pass  # the process ended while we looked
    return out


def _descendants(pid: int) -> set[int]:
    parents = _parents()
    found, frontier = set(), {pid}
    while frontier:
        frontier = {c for c, p in parents.items() if p in frontier} - found
        found |= frontier
    return found


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_engine(timeout_s: float = 30.0) -> None:
    """Stop the SparkSession and the JVM behind it, and wait until every
    process this one started (the JVM and its Python workers) has ended;
    whatever outlives ``timeout_s`` is killed.

    ``spark.stop()`` leaves the JVM running; it exits only on EOF on its
    stdin, which would otherwise come when this process exits, so the JVM
    would outlive the run."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:
            traceback.print_exc(file=sys.stderr)
    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            traceback.print_exc(file=sys.stderr)
        jvm = gateway.proc
        if jvm is not None:
            jvm.stdin.close()
            try:
                jvm.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        SparkContext._gateway = SparkContext._jvm = None
    # the JVM's Python workers are reparented when it exits: wait by pid
    procs |= _descendants(os.getpid())
    if not _wait_ended(procs, timeout_s):
        for p in procs:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass  # already gone
        _wait_ended(procs, 5.0)


def _wait_ended(procs: set[int], timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while any(_running(p) for p in procs):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True


def _declared_metrics(traced: bool) -> dict[str, str]:
    """Metric names and units, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if traced else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gomrjob_spark", "__init__.py")):
        print(f"no gomrjob_spark package under {ROOT}; run from a checkout root", file=sys.stderr)
        return 2
    if args.workload is None:
        ap.error("--workload is required")
    declared = _declared_metrics(bool(args.trace))
    _prepare_env()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    try:
        out = measure(args, declared)
    finally:
        stop_engine()
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)

    for k, v in out["metrics"].items():
        print(f"{k:28s} {v:14.6g} {declared[k]}")
    failed = out["failed"]
    print(f"result check: {'ok' if not failed else f'{failed} failed'} over {out['attempted']} ops; trace {out['trace_path']}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": out["attempted"],
                "failed": failed,
                "metrics": {k: {"value": v, "unit": declared[k]} for k, v in out["metrics"].items()},
            }
        )
    )
    return 0


def measure(args: argparse.Namespace, declared: dict[str, str]) -> dict:
    """Set up, generate, run, check and trace one workload; returns
    the metrics, the op counts and the trace's path."""
    from workloads import WORKLOADS

    traced = bool(args.trace)
    spark, setup = setup_session(traced)
    canaries = [canary()]

    import gen
    from spans import Tracer
    from workloads import Ctx

    sf_dir = os.path.join(WORK, f"tables-s{TABLE_SEED}")
    table_rows = gen.write_tables(sf_dir, TABLE_SEED)
    out_dir = os.path.join(WORK, "tmp", "out")
    mr = None
    if args.workload == "mr_jobs":
        mr = gen.write_mr_inputs(
            os.path.join(WORK, "tmp", "mr"), args.seed, MR_JSON_LINES, MR_KV_LINES, _cpus(), MR_KEYS
        )
        n_input = mr.json_lines + mr.kv_lines
    else:
        n_input = sum(table_rows.values())

    tracer = Tracer(traced, args.workload)
    tracer.attach(spark)
    ctx = Ctx(spark=spark, tracer=tracer, sf_dir=sf_dir, out_dir=out_dir, mr=mr)
    runner = Runner(spark, tracer, ctx, WORKLOADS[args.workload](), traced)
    canaries.append(canary())
    runner.run(args.seconds)
    canaries.append(canary())

    t0 = time.perf_counter()
    mismatches = runner.check()
    mr_totals = {}
    if mr is not None:
        mr_totals, more = mr_side_checks(spark, mr, out_dir)
        mismatches += more
    check_s = time.perf_counter() - t0
    rss = peak_rss_mb(spark)
    runner.close()
    tracer.close()

    failed = len(runner.failures) + len(mismatches)
    e2e, tail_info = end_to_end(runner, setup, n_input, rss)
    metrics = e2e
    if traced:
        metrics = per_layer(runner, setup, {
            **mr_totals,
            "oracle.check_s": check_s,
            "oracle.mismatches": len(mismatches),
            "fail_ratio": fail_ratio(runner.attempted, failed),
            "host.canary_s": median(canaries),
            "host.load_1m": os.getloadavg()[0],
        })
    metrics = {k: metrics.get(k, 0.0) for k in declared}

    rows = op_rows(tracer, runner.passes)
    selfs = self_times(tracer.spans)
    for s in tracer.spans:
        s["self_s"] = selfs[s["id"]]
    trace_dir = os.path.join(WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(trace_path, "w") as f:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "table_seed": TABLE_SEED,
                "cpus": _cpus(),
                "input_records": n_input,
                "setup": setup,
                "canaries": canaries,
                "tail": tail_info,
                "attempted": runner.attempted,
                "failures": runner.failures,
                "mismatches": mismatches,
                "metrics": metrics,
                "end_to_end": e2e,
                "ops": rows,
                "py4j_by_op": py4j_spread(rows),
                "events": runner.events,
                "spans": tracer.spans,
            },
            f,
            default=str,
        )
    return {"metrics": metrics, "attempted": runner.attempted, "failed": failed, "trace_path": trace_path}


if __name__ == "__main__":
    sys.exit(main())
