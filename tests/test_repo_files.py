"""Every repo-root file that the README, bench.py, the root tools or the
package names must exist, so a deleted tool or record cannot stay cited."""

from __future__ import annotations

import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Root tools, upper-case records (PLANS.md, BENCH_r12.json, ...) and the
# plan dumps; a name directly after a word character, '.' or '/' is part
# of a longer or nested name, not a repo-root file.
ROOT_FILE = re.compile(
    r"(?<![\w./])(tools_\w+\.py|[A-Z0-9_]+(?:_r\d+)?\.(?:md|jsonl|json)\b|plans/r\d+/[\w.]*)"
)


def test_root_file_references_exist():
    sources = ["README.md", "bench.py", *sorted(glob.glob("tools_*.py", root_dir=ROOT))]
    sources += sorted(
        glob.glob("oculus_data_pipeline_spark/**/*.py", root_dir=ROOT, recursive=True)
    )
    missing = set()
    for src in sources:
        with open(os.path.join(ROOT, src), encoding="utf-8") as f:
            for name in ROOT_FILE.findall(f.read()):
                if not os.path.exists(os.path.join(ROOT, name)):
                    missing.add(f"{src}: {name}")
    assert not missing, sorted(missing)
