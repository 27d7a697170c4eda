"""tools/measure.py, the forcing-and-timing core, and the CLIs over it."""

from __future__ import annotations

import importlib
import pathlib

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from tools import measure

TOOLS = sorted(p.stem for p in (pathlib.Path(__file__).parents[1] / "tools").glob("*.py"))


def test_force_executes_every_column(spark):
    """A ``.count()`` prunes a column nothing reads; the core's force runs it."""
    df = spark.range(5).select("id", F.raise_error(F.lit("forced")).alias("boom"))
    assert df.count() == 5
    with pytest.raises(PySparkException, match="forced"):
        measure.force(df)


def test_one_repeat_records_its_layers(spark):
    meter = measure.Meter(spark)
    spark.range(3).collect()  # an earlier job is not the repeat's

    def build(spark, _sf_dir):
        spark.range(10).collect()  # an eager job inside construction
        return spark.range(100).select((F.col("id") * 2).alias("x"))

    (rec,) = meter.repeats(build, "unused", 1)
    assert set(rec) == {"construct_s", "action_s", "jobs", "stages", "compiles"}
    assert rec["construct_s"] >= 0 and rec["action_s"] > 0
    assert (rec["jobs"], rec["stages"]) == (2, 2)
    assert measure.wall(rec) == round(rec["construct_s"] + rec["action_s"], 3)


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports_without_running(name):
    """Every tool imports cleanly, and a CLI runs ``main`` only as a script."""
    module = importlib.import_module(f"tools.{name}")
    if hasattr(module, "main"):
        assert 'if __name__ == "__main__":' in pathlib.Path(module.__file__).read_text()
