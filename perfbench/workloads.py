"""The workloads: which ops a pass runs, how each op is split into
build, plan and run phases, and how each op's result is checked.

Every op is driven through the engine's public calls only:
``plans.QUERIES[name](spark, sf_dir)``, ``Pipeline.run``,
``sources.lines.*`` and ``protocols.*``.

Phases (the span names the trace reports):

- ``build``: Python and py4j work that constructs the DataFrame. For a
  registry query this includes every Spark job the query launches while
  being built (trainers, fixed-point rounds, streaming topologies run to
  completion) — the *fit* part, which the traced rollup separates out.
- ``plan``: ``queryExecution().executedPlan()`` forced before the
  action. The action below plans its own write command again; this span
  measures what Catalyst costs for the query's plan.
- ``run``: the materializing action — a ``noop``-sink write for
  registry queries, the ``k\\tv`` part-file write for MapReduce jobs
  (``sources.lines.write_tsv_part_files``, the sink half of
  ``Pipeline.run_to_dir``).
"""

from __future__ import annotations

import glob
import gzip
import json
import os
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable

import pandas as pd

#: registry ops per pass, by the layer each is meant to load. An odd
#: count of ops with distinct latencies keeps op_p50_s on one op's
#: samples instead of straddling the gap between two.
REGISTRY_OPS = {
    "sql_scan": ["q1_pricing_summary", "q18_large_volume_customer", "join_band_time"],
    "fit_loops": ["graph_pagerank"],
    "stream_topologies": ["streaming_tumbling_agg"],
}


@dataclass
class Ctx:
    """What an op needs: the session, its inputs and where to write."""

    spark: object
    tracer: object
    sf_dir: str
    out_dir: str
    mr: object = None  # gen.MrInputs for the MapReduce workload
    #: results of the latest execution per op, for the result check
    results: dict = field(default_factory=dict)


@dataclass
class Op:
    name: str
    kind: str  # op class: sql_scan / fit_loops / stream_topologies / mr
    execute: Callable[[Ctx], object]
    check: Callable[[Ctx, object], None]
    streaming: bool = False


# -- registry ops -------------------------------------------------------------


def _registry_execute(name: str) -> Callable[[Ctx], object]:
    def execute(ctx: Ctx):
        from gomrjob_spark.plans import QUERIES

        tr = ctx.tracer
        with tr.span("build", group=True):
            df = QUERIES[name](ctx.spark, ctx.sf_dir)
        with tr.span("plan", group=True) as s:
            plan = df._jdf.queryExecution().executedPlan()
        s["plan"] = plan
        with tr.span("run", group=True):
            df.write.format("noop").mode("overwrite").save()
        return df

    return execute


def _registry_check(name: str) -> Callable[[Ctx, object], None]:
    def check(ctx: Ctx, df) -> None:
        from gomrjob_spark.oracle import compare, run_oracle
        from gomrjob_spark.plans import ORACLES

        compare(df, run_oracle(ORACLES[name], ctx.sf_dir), name)

    return check


def registry_ops() -> list[Op]:
    return [
        Op(n, kind, _registry_execute(n), _registry_check(n), kind == "stream_topologies")
        for kind, names in REGISTRY_OPS.items()
        for n in names
    ]


# -- MapReduce jobs -------------------------------------------------------------


def read_part_lines(path: str) -> list[str]:
    """Every line of a ``part-*`` output directory (plain or gzip)."""
    lines: list[str] = []
    for p in sorted(glob.glob(os.path.join(path, "part-*"))):
        opener = gzip.open if p.endswith(".gz") else open
        with opener(p, "rt", encoding="utf-8") as f:
            lines.extend(f.read().splitlines())
    return lines


def _expect_lines(got: list[str], want: list[str], name: str) -> None:
    got = sorted(got, key=lambda s: s.encode())
    if got != want:
        extra = sorted(set(got) - set(want))[:3]
        missing = sorted(set(want) - set(got))[:3]
        raise AssertionError(
            f"{name}: {len(got)} lines vs {len(want)} golden; "
            f"unexpected {extra}, missing {missing}"
        )


def _max_int(key, pdf: pd.DataFrame) -> pd.DataFrame:
    """Combiner and reducer of the hot-key job: the max int value per
    key; non-int values are skipped, as the reference's Sum skips them.
    Keeps the ``key string, value string`` schema so it can run on
    either side of the shuffle."""
    ints = [int(v) for v in pdf["value"] if v.isdigit()]
    return pd.DataFrame({"key": [key] if ints else [], "value": [str(max(ints))] if ints else []})


def _pair_mapper(pdf: pd.DataFrame) -> pd.DataFrame:
    """Chain step 1 mapper: count each ``name=value`` pair of a JSON
    record; bad JSON is skipped. Per-batch counting, as
    ``plans.mr.field_count_mapper`` does."""
    counts: Counter = Counter()
    for line in pdf["value"]:
        try:
            rec = json.loads(line)
        except ValueError:
            continue
        counts.update(f"{k}={v}" for k, v in rec.items())
    return pd.DataFrame({"key": list(counts), "value": [str(c) for c in counts.values()]})


def _pair_field(pdf: pd.DataFrame) -> pd.DataFrame:
    """Chain step 2 mapper: re-key a pair count by its field name."""
    return pd.DataFrame({"key": pdf["key"].str.split("=").str[0], "value": pdf["value"]})


def _write(ctx: Ctx, out, job: str, compress: bool) -> str:
    from gomrjob_spark.sources.lines import write_tsv_part_files

    path = os.path.join(ctx.out_dir, job)
    write_tsv_part_files(out, path, compress=compress, sorted_output=True)
    return path


def _field_count(ctx: Ctx):
    from gomrjob_spark.pipeline import SUM, Pipeline, Step
    from gomrjob_spark.plans.mr import field_count_mapper
    from gomrjob_spark.sources.lines import read_lines

    tr = ctx.tracer
    with tr.span("build", group=True):
        lines = read_lines(ctx.spark, ctx.mr.json_dir + "/part-*")
        out = Pipeline(steps=[Step(mapper=field_count_mapper, reducer=SUM)]).run(lines)
    with tr.span("plan", group=True) as s:
        s["plan"] = out._jdf.queryExecution().executedPlan()
    with tr.span("run", group=True):
        return _write(ctx, out, "field_count", compress=True)


def _hot_key_max(ctx: Ctx):
    from gomrjob_spark.pipeline import Pipeline, Step
    from gomrjob_spark.protocols import parse_kv_lines
    from gomrjob_spark.sources.lines import read_lines

    tr = ctx.tracer
    with tr.span("build", group=True):
        kv = parse_kv_lines(read_lines(ctx.spark, ctx.mr.kv_dir + "/part-*"))
        step = Step(
            reducer=_max_int, combiner=_max_int, reduce_schema="key string, value string"
        )
        out = Pipeline(steps=[step]).run(kv)
    with tr.span("plan", group=True) as s:
        s["plan"] = out._jdf.queryExecution().executedPlan()
    with tr.span("run", group=True):
        return _write(ctx, out, "hot_key_max", compress=False)


def _chain(ctx: Ctx):
    """Two jobs chained through a materialized ``part-*`` directory, the
    reference's temp-dir chaining: step 1 counts ``name=value`` pairs of
    the JSON records and writes them; step 2 reads that output back,
    re-keys each count by field name and sums again."""
    from gomrjob_spark.pipeline import SUM, Pipeline, Step
    from gomrjob_spark.protocols import parse_kv_lines
    from gomrjob_spark.sources.lines import read_lines, read_text_dir

    tr = ctx.tracer
    with tr.span("build", group=True):
        lines = read_lines(ctx.spark, ctx.mr.json_dir + "/part-*")
        step1 = Pipeline(steps=[Step(mapper=_pair_mapper, reducer=SUM)]).run(lines)
    with tr.span("plan", group=True) as s:
        s["plan"] = step1._jdf.queryExecution().executedPlan()
    with tr.span("run", group=True):
        p1 = _write(ctx, step1, "chain_step1", compress=False)
    with tr.span("build", group=True):
        kv = parse_kv_lines(read_text_dir(ctx.spark, p1))
        step2 = Pipeline(steps=[Step(mapper=_pair_field, reducer=SUM)]).run(kv)
    with tr.span("plan", group=True) as s:
        s["plan"] = step2._jdf.queryExecution().executedPlan()
    with tr.span("run", group=True):
        p2 = _write(ctx, step2, "chain_step2", compress=False)
    return p1, p2


def _check_dir(job: str):
    def check(ctx: Ctx, path) -> None:
        _expect_lines(read_part_lines(path), ctx.mr.goldens[job], job)

    return check


def _check_chain(ctx: Ctx, paths) -> None:
    _expect_lines(read_part_lines(paths[0]), ctx.mr.goldens["chain_step1"], "chain_step1")
    _expect_lines(read_part_lines(paths[1]), ctx.mr.goldens["chain_step2"], "chain_step2")


def mr_ops() -> list[Op]:
    return [
        Op("field_count", "mr", _field_count, _check_dir("field_count")),
        Op("hot_key_max", "mr", _hot_key_max, _check_dir("hot_key_max")),
        Op("chain", "mr", _chain, _check_chain),
    ]


WORKLOADS = {"mr_jobs": mr_ops, "registry": registry_ops}
