"""The stage catalog: where stage outputs land and how they commit.

Every write goes to a NEW immutable directory ``<base>/data-<n>``; the
commit is an atomic rename of ``<base>/_MANIFEST.json.tmp`` onto
``<base>/_MANIFEST.json``, which names that directory. Readers resolve
only through the manifest, so a crash at any point leaves either the
previous commit or the new one visible, never a half-written stage or
data under another commit's fingerprint. It is the Iceberg HadoopCatalog
commit protocol on a plain filesystem:

=========================  ================================
this catalog               Iceberg
=========================  ================================
``data-<n>/`` directory    snapshot
``_MANIFEST.json`` swap    metadata pointer swap (commit)
parquet footer row counts  manifest entries (record counts)
``input_fingerprint``      input table snapshot id
=========================  ================================

After the swap, every other ``data-*`` directory (the superseded commit
and any crash orphans) is deleted, so a stage keeps one copy on disk.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_MANIFEST.json"


class StageCatalog:
    """Immutable per-write data directories behind an atomic manifest swap."""

    @staticmethod
    def _manifest(base: Path) -> dict | None:
        path = base / MANIFEST
        return json.loads(path.read_text()) if path.exists() else None

    @staticmethod
    def _data_dirs(base: Path) -> dict[int, Path]:
        return {
            int(p.name[5:]): p
            for p in base.glob("data-*")
            if p.name[5:].isdigit()
        }

    def committed_fingerprint(self, base: Path) -> str | None:
        """The input fingerprint of the last commit, or None."""
        manifest = self._manifest(base)
        return manifest["input_fingerprint"] if manifest else None

    def write(
        self, df: DataFrame, base: Path, partition_by: tuple[str, ...] = ()
    ) -> str:
        """Write ``df`` to a fresh ``data-<n>`` directory under ``base`` and
        return its name. ``n`` counts past every existing directory, crash
        orphans included, so no name is ever reused."""
        name = f"data-{max(self._data_dirs(base), default=0) + 1}"
        # zstd: about half snappy's bytes on the text-heavy stages
        w = df.write.mode("errorifexists").option("compression", "zstd")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(base / name))
        return name

    def read(self, spark: SparkSession, base: Path) -> DataFrame:
        manifest = self._manifest(base)
        if manifest is None:
            raise FileNotFoundError(f"no committed stage at {base}")
        return spark.read.parquet(str(base / manifest["data"]))

    def commit(
        self,
        base: Path,
        name: str,
        stage: str,
        input_fingerprint: str,
        rows: int,
        wall_ms: int,
    ) -> None:
        """Point the manifest at ``name`` (the commit), then delete every
        other data directory."""
        tmp = base / (MANIFEST + ".tmp")
        tmp.write_text(
            json.dumps(
                {
                    "stage": stage,
                    "input_fingerprint": input_fingerprint,
                    "rows": rows,
                    "wall_ms": wall_ms,
                    # relative to base: stage directories are copied whole
                    "data": name,
                },
                indent=2,
            )
        )
        os.replace(tmp, base / MANIFEST)
        for path in self._data_dirs(base).values():
            if path.name != name:
                shutil.rmtree(path, ignore_errors=True)
