"""Session factory and the engine's environment surface."""

from __future__ import annotations

import glob
import os
import re
import subprocess
import sys

import pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


VALUE_READ = re.compile(r"""(?:os\.environ\.get\(|os\.environ\[|getenv\()\s*["']([^"']+)["']""")
PRESENCE = re.compile(r"""["']([^"']+)["']\s+(?:not\s+)?in\s+os\.environ\b""")


def test_engine_reads_only_deployment_settings():
    """The engine's only environment options are the driver heap and the
    core count; a new option must change this test on purpose. The one
    presence check is spark-submit's launch marker (see session.get_spark).
    Every os.environ / getenv use must be one of these literal reads."""
    values: set[str] = set()
    presence: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "kgpipe", "*.py")):
        with open(path) as f:
            src = f.read()
        v, p = VALUE_READ.findall(src), PRESENCE.findall(src)
        assert len(re.findall(r"os\.environ|getenv", src)) == len(v) + len(p), path
        values.update(v)
        presence.update(p)
    assert values == {"KGPIPE_DRIVER_MEM", "SPARK_GRAFT_CPUS"}
    assert presence == {"PYSPARK_GATEWAY_PORT"}


PROBE = """
import sys
sys.path.insert(0, {repo!r})
from kgpipe.session import get_spark
s = get_spark("master-probe")
print("MASTER", s.sparkContext.master)
s.stop()
"""


def _probe_master(tmp_path, cmd_prefix: list[str], env_extra: dict[str, str]) -> str:
    script = tmp_path / "probe.py"
    script.write_text(PROBE.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    env.update(PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    env.update(env_extra)
    out = subprocess.run(
        cmd_prefix + [str(script)], capture_output=True, text=True, timeout=300, env=env
    )
    masters = [ln.split()[1] for ln in out.stdout.splitlines() if ln.startswith("MASTER ")]
    assert masters, out.stderr[-2000:]
    return masters[0]


def test_spark_submit_master_is_respected(tmp_path):
    """Under spark-submit the deployment's --master wins; a plain python
    process still gets local[cores]."""
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    assert _probe_master(tmp_path, [submit, "--master", "local[2]"], {}) == "local[2]"
    assert _probe_master(tmp_path, [sys.executable], {"SPARK_GRAFT_CPUS": "3"}) == "local[3]"
