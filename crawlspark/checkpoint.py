"""Checkpoint/manifest layer — Iceberg-shaped, Parquet-backed.

No Iceberg runtime jar ships in this sandbox (SURVEY.md §7.4), so the engine
commits through a self-managed snapshot manifest with the same guarantees a
real catalog would give: per-wave atomic commit (write-temp → fsync → rename),
per-partition lineage (every wave's files are listed under the wave that wrote
them) and counters. The `TableIO` surface is deliberately thin so an Iceberg
catalog drops in unchanged on a real cluster.

Crash contract (north rule "resumable from checkpoint"): the manifest is only
advanced AFTER all of a wave's outputs are durably written; a kill at any
point resumes from the last committed wave and re-derives the rest — no URL
is ever fetched twice because the seen-set delta commits atomically with the
frontier state that consumed it.
"""

from __future__ import annotations

import json
import os
import tempfile

MANIFEST = "manifest.json"


class TableIO:
    """Parquet-directory tables + one JSON snapshot manifest per workdir.

    This class IS the catalog seam: the engine talks only to this surface
    (read_manifest/commit_manifest, write_wave/read_wave/wave_exists/
    read_waves) and never touches paths or the
    filesystem itself, so a real Iceberg catalog — or any other table store
    — drops in by passing `table_io=` to CrawlEngine. The swap is pinned by
    tests/test_tableio_contract.py, which runs the kill-and-resume contract
    against a non-filesystem fake catalog."""

    def __init__(self, spark, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    def read_manifest(self) -> dict | None:
        path = os.path.join(self.workdir, MANIFEST)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def commit_manifest(self, manifest: dict) -> None:
        """Atomic snapshot swap: temp file + fsync + rename (POSIX-atomic)."""
        path = os.path.join(self.workdir, MANIFEST)
        fd, tmp = tempfile.mkstemp(dir=self.workdir, suffix=".manifest.tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(manifest, f, indent=1)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    # -- wave-partitioned tables -------------------------------------------
    def wave_path(self, table: str, wave: int) -> str:
        return os.path.join(self.workdir, table, f"wave={wave}")

    def wave_exists(self, table: str, wave: int) -> bool:
        return os.path.exists(self.wave_path(table, wave))

    def read_wave(self, table: str, wave: int):
        return self.spark.read.parquet(self.wave_path(table, wave))

    def write_wave(self, df, table: str, wave: int) -> str:
        path = self.wave_path(table, wave)
        df.write.mode("overwrite").parquet(path)
        return path

    def read_waves(self, table: str, waves: list[int], schema=None):
        paths = [self.wave_path(table, w) for w in waves]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            if schema is None:
                raise ValueError(f"no data for {table} and no schema given")
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(*paths)
