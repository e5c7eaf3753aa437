"""Session defaults: local sessions and spark-submit (SPARK_SUBMIT_MODE)."""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from osm_addr_bot_spark.session import DEBUGGING_CONF

ROOT = Path(__file__).resolve().parents[1]

SUBMIT_SCRIPT = f"""
import json
from osm_addr_bot_spark.session import get_spark
spark = get_spark(app_name="submit-mode")
keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled", "{DEBUGGING_CONF}")
print(json.dumps({{k: spark.conf.get(k) for k in keys}}))
spark.stop()
"""


def test_local_session_disables_dataframe_debugging(spark):
    assert spark.conf.get(DEBUGGING_CONF) == "false"


@pytest.mark.parametrize("launcher_debugging", [None, "true"])
def test_submit_mode_applies_only_defaults_the_launcher_left_unset(launcher_debugging):
    """The launcher's --conf wins; every engine default it did not set,
    static DataFrame debugging included, still applies."""
    args = ["--master", "local[1]", "--driver-memory", "512m", "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=7"]
    if launcher_debugging:
        args += ["--conf", f"{DEBUGGING_CONF}={launcher_debugging}"]
    env = dict(
        os.environ,
        SPARK_SUBMIT_MODE="1",
        PYSPARK_SUBMIT_ARGS=" ".join([*args, "pyspark-shell"]),
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    )
    r = subprocess.run([sys.executable, "-c", SUBMIT_SCRIPT], env=env, cwd=ROOT,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    assert json.loads(r.stdout.strip().splitlines()[-1]) == {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.adaptive.enabled": "true",
        DEBUGGING_CONF: launcher_debugging or "false",
    }
