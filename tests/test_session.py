"""``get_spark``: session settings a driver relies on wherever it starts."""

import os
import subprocess
import sys
import textwrap

import kafka_plugins_spark


def test_workers_import_package_when_driver_runs_outside_checkout(tmp_path):
    """A driver started outside the checkout, which finds the package
    through its own ``sys.path`` and sets no ``PYTHONPATH``, still runs a
    ``mapInArrow`` closure that calls package functions (``_rank_cells``):
    ``get_spark`` puts the package root on the Python workers' path."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(kafka_plugins_spark.__file__)))
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {root!r})
        from kafka_plugins_spark.operators.similarity import _rank_cells
        from kafka_plugins_spark.session import get_spark

        spark = get_spark("outside-checkout", cores=1)
        df = spark.createDataFrame([([1.0, 0.0],), ([0.0, 1.0],)], "v array<double>")
        ranked = _rank_cells(df, "v", [[1.0, 0.0], [0.0, 1.0]], 1)
        print("homes", sorted(r["_home"] for r in ranked.collect()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "homes [0, 1]" in out.stdout.splitlines()
