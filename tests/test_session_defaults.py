"""The session factory's defaults, and the set of deployment settings it
reads from the environment. Every other knob is a constant or a
``get_spark`` argument: a new ``SPARK_GRAFT_*`` read under the package
fails here until it is argued onto the allowlist."""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# Deployment settings: where and how big the process runs, plus the
# bench/inspection switches (UI REST API, connector jars, fixture dir).
ENV_ALLOWLIST = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_STATE_STORE",
    "SPARK_GRAFT_MAX_RESULT_SIZE",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_UI",
    "SPARK_GRAFT_JARS_PACKAGES",
    "SPARK_GRAFT_SF_DIR",
}


def _env_names_read() -> dict[str, list[str]]:
    """Every string literal under the package that is exactly a
    ``SPARK_GRAFT_*`` name (the key of an environment read), with the
    files it appears in. Prose in docstrings and messages never is."""
    found: dict[str, list[str]] = {}
    for path in sorted((REPO / "flink_wikipedia_spark").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and re.fullmatch(r"SPARK_GRAFT_[A-Z0-9_]+", node.value)
            ):
                found.setdefault(node.value, []).append(
                    str(path.relative_to(REPO))
                )
    return found


def test_env_reads_are_deployment_settings_only():
    found = _env_names_read()
    assert "SPARK_GRAFT_CPUS" in found  # the scan sees the session's reads
    extra = {n: files for n, files in found.items() if n not in ENV_ALLOWLIST}
    assert not extra, f"environment knobs outside the allowlist: {extra}"


def test_default_session_conf_subprocess(tmp_path):
    """A default get_spark() sizes batch exchanges through AQE from a
    512-partition start, keeps the static count at the core count for
    streaming plans, and charges 128 KB per opened file. Run in a child
    interpreter: the suite's fixture session pins its own count."""
    code = textwrap.dedent(
        """
        import os
        os.environ["SPARK_GRAFT_CPUS"] = "2"
        from flink_wikipedia_spark.session import get_spark

        spark = get_spark("session-defaults-test")
        conf = {k: spark.conf.get(k) for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            "spark.sql.files.openCostInBytes",
        )}
        spark.stop()
        print("CONF", conf)
        """
    )
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)
    env["PYTHONPATH"] = str(REPO) + os.pathsep + env.get("PYTHONPATH", "")
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=300, env=env, cwd=str(tmp_path),
    )
    line = next((x for x in out.stdout.splitlines() if x.startswith("CONF ")), None)
    assert line is not None, out.stdout + out.stderr
    assert ast.literal_eval(line[len("CONF "):]) == {
        "spark.sql.shuffle.partitions": "2",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "512",
        "spark.sql.files.openCostInBytes": "131072",
    }
