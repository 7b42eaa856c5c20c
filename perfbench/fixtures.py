"""One-time fixture cache: a copy of the source parquet files (read by
the DuckDB oracles) and the multi-file layout ``bench.py`` measures
(``tools.make_fixtures.multifile``, 32 parts per fact table).

The cache lives under the benchmark's build directory and is built once
per checkout; its build time is recorded apart from set-up time.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

FILES_PER_FACT_TABLE = 32


def fingerprint(src_dir: str) -> dict[str, str]:
    """Per-table ``rows:md5[:12]`` of the source files, the same shape
    as ``bench.py::_testdata_fingerprint`` (a private helper of
    ``bench.py``, so not imported)."""
    import pyarrow.parquet as pq

    out: dict[str, str] = {}
    for name in sorted(os.listdir(src_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(src_dir, name)
        md5 = hashlib.md5()
        with open(path, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                md5.update(chunk)
        rows = pq.ParquetFile(path).metadata.num_rows
        out[name[: -len(".parquet")]] = f"{rows}:{md5.hexdigest()[:12]}"
    return out


class FixtureCache:
    """Cache directory for one source fixture directory."""

    def __init__(self, cache_root: str, src_dir: str):
        self.src_dir = os.path.abspath(src_dir)
        key = hashlib.md5(self.src_dir.encode()).hexdigest()[:8]
        base = os.path.basename(self.src_dir.rstrip("/"))
        self.dir = os.path.join(cache_root, f"{base}-{key}")
        self.copy_dir = os.path.join(self.dir, "src")
        self.multifile_dir = os.path.join(self.dir, "multifile")
        self.manifest_path = os.path.join(self.dir, "manifest.json")

    def manifest(self) -> dict | None:
        try:
            with open(self.manifest_path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return None

    def ensure(self, spark) -> dict:
        """Build the cache if it is missing; return its manifest."""
        found = self.manifest()
        if found is not None:
            return found
        from tools.make_fixtures import LAYOUT_VERSION, multifile

        t0 = time.monotonic()
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.copy_dir)
        for name in sorted(os.listdir(self.src_dir)):
            if name.endswith(".parquet"):
                shutil.copyfile(
                    os.path.join(self.src_dir, name), os.path.join(self.copy_dir, name)
                )
        multifile(spark, self.copy_dir, self.multifile_dir, files=FILES_PER_FACT_TABLE)
        found = {
            "source": self.src_dir,
            "layout": f"multifile-{FILES_PER_FACT_TABLE}",
            "layout_version": LAYOUT_VERSION,
            "fingerprint": fingerprint(self.copy_dir),
            "build_s": time.monotonic() - t0,
        }
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(found, fh, indent=1, sort_keys=True)
        os.replace(tmp, self.manifest_path)
        return found
