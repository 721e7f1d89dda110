"""Golden-output test harness — engine analog of mrtest/testing.go.

The reference harness pipes input through Mapper -> byte-line-sort (the
shuffle model) -> Reducer in-process, then byte-compares to a golden string
(mrtest/testing.go:55-123). Here the pipeline runs on a real local
SparkSession (so the test exercises the actual execution path, not a
simulator), and the output is rendered to ``k\\tv`` lines sorted
byte-lexicographically by serialized key — the reference's output order
(SURVEY.md §1.3) — before comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gomrjob_spark.pipeline import Pipeline, Step
from gomrjob_spark.protocols import format_kv_lines


def lines_df(spark: SparkSession, text: str) -> DataFrame:
    """One-column DataFrame[value: string] from newline-separated text,
    skipping blank lines (RawInputProtocol skips empties, protocol.go:57-60)."""
    rows = [(ln,) for ln in text.split("\n") if ln.strip()]
    return spark.createDataFrame(rows, "value string")


def collect_kv_output(result: DataFrame) -> str:
    """Render a key/value result to byte-sorted ``k\\tv`` text (the shape
    golden files use, example/example_mr_test.go:26-29). The lines are
    sorted on the driver by their UTF-8 bytes: a Spark ``orderBy`` would
    sample its input in a job of its own and run the pipeline twice."""
    lines = [r.value for r in format_kv_lines(result).collect()]
    return "".join(ln + "\n" for ln in sorted(lines, key=str.encode))


def run_steps(spark: SparkSession, steps: list[Step] | Pipeline, input_text: str) -> str:
    """TestMapReduceSteps analog: feed text lines through the pipeline,
    return the golden-comparable output text."""
    pipe = steps if isinstance(steps, Pipeline) else Pipeline(steps=list(steps))
    return collect_kv_output(pipe.run(lines_df(spark, input_text)))


def assert_golden(spark: SparkSession, steps: list[Step] | Pipeline, input_text: str, golden: str) -> None:
    """Byte-compare pipeline output to a golden string after whitespace
    trim (mrtest/testing.go:111-123 semantics)."""
    got = run_steps(spark, steps, input_text).strip()
    want = golden.strip()
    assert got == want, f"golden mismatch:\n--- got ---\n{got}\n--- want ---\n{want}"
