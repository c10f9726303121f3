"""Package the engine for spark-submit --py-files.

Usage: python tools/make_pyfiles.py [out.zip]
Then:  spark-submit --py-files wceb_spark.zip your_job.py
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "web_content_extraction_benchmark_spark"


def main(out: str = os.path.join(REPO, "wceb_spark.zip")) -> None:
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
            for name in sorted(files):
                if name.endswith(".py"):
                    full = os.path.join(root, name)
                    zf.write(full, os.path.relpath(full, REPO))
    print(out)


if __name__ == "__main__":
    main(*sys.argv[1:2])
