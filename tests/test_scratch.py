"""workloads._scratch, where registry rows keep their on-disk state:
each process gets its own root under the temp dir, every returned path
is fresh, and the root is gone once the process exits. No Spark
session: the helper only names and clears directories."""

import json
import os
import subprocess
import sys
import tempfile

from alstom_spark_cassandra_spark.sources.loader import memoizable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Two calls with the same name, the first one's directory written to
# in between, as a row rerun in one process would.
CHILD = """
import json, os
from alstom_spark_cassandra_spark.workloads import _scratch
out = []
for _ in range(2):
    path = _scratch("/data/sf0.001", "index")
    out.append([path, os.path.exists(path)])
    os.makedirs(f"{path}/part")
print(json.dumps(out))
"""


def test_scratch_root_is_per_process_fresh_and_removed_at_exit():
    # side by side, as two registry runs over one sf dir would be
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", CHILD],
            cwd=REPO,
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(2)
    ]
    runs = []
    for proc in procs:
        out, _ = proc.communicate(timeout=120)
        assert proc.returncode == 0
        runs.append(json.loads(out.strip().splitlines()[-1]))
    roots = []
    for run in runs:
        (p1, existed1), (p2, existed2) = run
        assert not existed1 and not existed2
        assert p1 == p2
        assert p1.endswith("/index_data_sf0_001")
        assert not memoizable(p1)
        root = os.path.dirname(p1)
        assert os.path.dirname(root) == tempfile.gettempdir()
        assert not os.path.exists(root)
        roots.append(root)
    assert roots[0] != roots[1]
