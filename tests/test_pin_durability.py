"""The pin primitive (SCALE.md §pin-durability): ``pinning.pin`` is the
engine's only pin path, and SPARK_GRAFT_PIN_MODE swaps its MECHANISM —
executor-local checkpoint (fast, dies with the executor) or reliable
checkpoint (durable store, survives preemption) — on every session,
without changing any query's values."""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys
import textwrap

import pytest

from supabase_etl_spark.pinning import pin, pin_mode

QUERY = "text_winnowing_fingerprint"  # cheap, pinned (llm_text.py)
SF = "/root/testdata/sf0.001"
REPO = pathlib.Path(__file__).resolve().parent.parent


def _run(spark, name):
    from supabase_etl_spark.queries import load_all

    df = load_all()[name].fn(spark, SF)
    return [tuple(r) for r in df.collect()]


def _files_under(path: str) -> list[str]:
    path = path.removeprefix("file:")
    return [
        os.path.join(r, f)
        for r, _, fs in os.walk(path)
        for f in fs
        if not f.startswith(".")
    ]


def test_default_mode_is_stock_local_checkpoint(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_PIN_MODE", raising=False)
    assert pin_mode() == "local"
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    pinned = pin(df, eager=True)
    assert pinned is not df
    # lineage truncated to an RDD scan = the stock localCheckpoint path
    assert "ExistingRDD" in pinned._jdf.queryExecution().executedPlan().toString()
    assert pinned.count() == 100


def test_reliable_mode_writes_durable_checkpoint(spark, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_PIN_MODE", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck"))
    df = spark.range(1000).selectExpr("id", "id % 7 AS v")
    pinned = pin(df, eager=True)
    assert pinned.count() == 1000
    # blocks landed in the context's DURABLE dir (the env's, unless an
    # earlier reliable pin in this session already set one), not
    # executor-local storage
    ckdir = spark.sparkContext.getCheckpointDir()
    assert ckdir and _files_under(ckdir), f"no reliable-checkpoint files under {ckdir}"


def test_invalid_mode_rejected(monkeypatch):
    # `none` (no pin at all) was a mode once; the correctness pins
    # (operators/prefix.py) return wrong values without materializing
    for mode in ("bogus", "none"):
        monkeypatch.setenv("SPARK_GRAFT_PIN_MODE", mode)
        with pytest.raises(ValueError, match=mode):
            pin_mode()


@pytest.mark.parametrize("mode", ["reliable"])
def test_pinned_query_values_identical_across_modes(
    spark, monkeypatch, tmp_path, mode
):
    """The switch swaps durability, never semantics: a pinned registry
    query returns byte-identical rows under every mode."""
    monkeypatch.delenv("SPARK_GRAFT_PIN_MODE", raising=False)
    baseline = _run(spark, QUERY)
    monkeypatch.setenv("SPARK_GRAFT_PIN_MODE", mode)
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck"))
    assert _run(spark, QUERY) == baseline


def test_reliable_mode_on_a_session_not_built_by_the_factory(tmp_path):
    """No install step: a vanilla session (built without
    session.get_spark, as ``__spark_entry__`` callers do) gets the mode
    too. Runs in a fresh process so the checkpoint directory starts
    unset."""
    ckdir = tmp_path / "ck"
    code = textwrap.dedent(
        """
        from pyspark.sql import SparkSession
        from supabase_etl_spark.pinning import pin

        spark = SparkSession.builder.master("local[1]").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        pinned = pin(spark.range(100), eager=True)
        print(pinned.count(), spark.sparkContext.getCheckpointDir())
        spark.stop()
        """
    )
    env = dict(
        os.environ,
        SPARK_GRAFT_PIN_MODE="reliable",
        SPARK_GRAFT_CHECKPOINT_DIR=str(ckdir),
        PYTHONPATH=str(REPO),
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rows, reported = out.stdout.split()[-2:]
    assert rows == "100"
    assert reported.removeprefix("file:").startswith(str(ckdir))
    assert _files_under(str(ckdir)), f"no reliable-checkpoint files under {ckdir}"


def test_no_checkpoint_call_outside_pinning():
    """One pin path: every pin goes through ``pinning.pin``, so the mode
    reaches every pin site and the lints' spy sees every pin."""
    offenders = []
    for root in ("supabase_etl_spark", "scripts"):
        for path in sorted((REPO / root).rglob("*.py")):
            if path == REPO / "supabase_etl_spark" / "pinning.py":
                continue
            for node in ast.walk(ast.parse(path.read_text(), str(path))):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("localCheckpoint", "checkpoint")
                ):
                    offenders.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not offenders, "call pinning.pin instead:\n  " + "\n  ".join(offenders)
