#!/usr/bin/env python
"""Build dist/tsfresh_spark.zip for ``spark-submit --py-files``."""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> str:
    dist = os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "tsfresh_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = os.path.join(REPO, "tsfresh_spark")
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for name in files:
                if not name.endswith(".py"):
                    continue
                full = os.path.join(root, name)
                zf.write(full, os.path.relpath(full, REPO))
    return out


if __name__ == "__main__":
    # print only in CLI use — library callers (__spark_entry__) must keep
    # stdout clean: their caller reads it as one JSON line
    print(main())
