"""Stage store: atomic parquet commits + per-partition lineage + metrics.

The storage seam from SURVEY §7.2 item 1. Semantics modeled on Iceberg
snapshot commits (the north rule's "resumable from checkpoint with
per-partition lineage + metrics"), implemented over plain parquet so the
sandbox needs no extra jars; the same interface binds to an Iceberg catalog
by swapping the three primitives (atomic publish / is-committed probe /
read) for `writeTo(...).createOrReplace()`, snapshot lookup, and a catalog
read. Reference precedents (file:line in /root/reference):

* atomic temp-file + os.replace publish —
  scripts/3_llm_reranker/3_1_LLM_pick_skills_full_details.py:88-112,
  3_2b_clean_LLM_create_opp-db.py:661-679
* provenance sidecar (schema_version, sizes, generated_at) —
  3_2b_clean_LLM_create_opp-db.py:681-695
* skip-processed resume — 2_1_entity_extraction_loop.py:89-132,
  3_1_LLM_pick_skills_full_details.py:596-616
* run-summary metrics — 3_1…py:666-681

A stage commit is:
  <root>/<stage>/data/          parquet files (written to a temp dir,
                                published with an atomic directory rename)
  <root>/<stage>/MANIFEST.json  {stage, params_hash, rows, n_files,
                                 wall_ms, committed_at} via os.replace
  <root>/_lineage/<stage>.parquet   one row PER OUTPUT PARTITION (file):
                                 (stage, partition_file, rows, params_hash)
  <root>/_metrics/<stage>.json  stage-level metrics row

`is_committed(stage, params_hash)` is true iff the manifest exists AND its
params_hash matches — changing any upstream config invalidates downstream
stages automatically because each stage's hash chains its parent's.
`staged(stage, params_hash, build)` is the one commit-or-read every
consumer uses: it reads the snapshot when committed, else builds and
commits it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def params_hash(*parts: object) -> str:
    """Deterministic hash chaining config + upstream hashes."""
    blob = json.dumps([str(p) for p in parts], sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


# Commit-time lineage reads parquet footers on the driver (metadata only,
# ~ms per file) up to this many output files; beyond it the commit falls
# back to the distributed input_file_name aggregate. Bounds the driver
# loop the same way KNN_NUMPY_MAX_ROWS bounds the query rows the top-k
# kernel collects.
FOOTER_LINEAGE_MAX_FILES = 4096


class StageStore:
    def __init__(self, spark: SparkSession, root: str | Path) -> None:
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- paths -------------------------------------------------------------
    def _stage_dir(self, stage: str) -> Path:
        return self.root / stage

    def _manifest(self, stage: str) -> Path:
        return self._stage_dir(stage) / "MANIFEST.json"

    # -- probes ------------------------------------------------------------
    def is_committed(self, stage: str, phash: str) -> bool:
        mf = self._manifest(stage)
        if not mf.exists():
            return False
        try:
            return json.loads(mf.read_text()).get("params_hash") == phash
        except (json.JSONDecodeError, OSError):
            return False

    def manifest(self, stage: str) -> dict:
        return json.loads(self._manifest(stage).read_text())

    def staged(
        self, stage: str, phash: str, build: Callable[[], DataFrame]
    ) -> DataFrame:
        """The committed snapshot of `stage` at `phash`; `build()` runs and
        commits only when no manifest carries that hash."""
        if self.is_committed(stage, phash):
            return self.read(stage)
        return self.commit(stage, build(), phash)

    # -- commit ------------------------------------------------------------
    def commit(self, stage: str, df: DataFrame, phash: str) -> DataFrame:
        """Write df atomically; record per-partition lineage + metrics.

        Returns the committed DataFrame (re-read from storage so downstream
        stages consume the snapshot, not the live plan).
        """
        sdir = self._stage_dir(stage)
        tmp = self.root / f"_tmp_{stage}_{os.getpid()}"
        final = sdir / "data"
        t0 = time.perf_counter()
        df.write.mode("overwrite").parquet(str(tmp))
        # atomic publish: a reader either sees the whole snapshot or nothing
        if final.exists():
            shutil.rmtree(final)
        sdir.mkdir(parents=True, exist_ok=True)
        os.replace(tmp, final)
        wall_ms = round((time.perf_counter() - t0) * 1000, 1)

        committed = self.spark.read.parquet(str(final))
        # per-partition lineage: one row per output file (file == partition
        # of the final write). Row counts come straight from the parquet
        # FOOTERS the write just produced — metadata reads, no row scan, no
        # Spark job (the r5 shape ran a data-wide input_file_name groupBy +
        # a distributed lineage write + a summary scan: three whole jobs of
        # pure overhead per commit). The driver loop is bounded by the
        # output file count (== write partitions); above the gate a stage
        # with pathologically many files falls back to the distributed
        # aggregate so the driver never walks an unbounded listing.
        data_files = sorted(
            p for p in final.rglob("*.parquet") if p.is_file()
        )
        ldir = self.root / "_lineage"
        ldir.mkdir(exist_ok=True)
        lpath = ldir / f"{stage}.parquet"
        if len(data_files) <= FOOTER_LINEAGE_MAX_FILES:
            import pyarrow as pa
            import pyarrow.parquet as pq

            per_file = [
                (str(p), pq.ParquetFile(p).metadata.num_rows)
                for p in data_files
            ]
            # explicit schema: an empty commit (zero output files) must
            # still publish a lineage snapshot Spark can read back.
            table = pa.table(
                {
                    "partition_file": [f for f, _ in per_file],
                    "rows": [r for _, r in per_file],
                    "stage": [stage] * len(per_file),
                    "params_hash": [phash] * len(per_file),
                },
                schema=pa.schema(
                    [
                        ("partition_file", pa.string()),
                        ("rows", pa.int64()),
                        ("stage", pa.string()),
                        ("params_hash", pa.string()),
                    ]
                ),
            )
            if lpath.exists():
                shutil.rmtree(lpath, ignore_errors=True)
            lpath.mkdir(parents=True, exist_ok=True)
            pq.write_table(table, lpath / "part-00000.parquet")
            rows = int(sum(r for _, r in per_file))
            n_files = len(per_file)
        else:
            lineage = (
                committed.select(F.input_file_name().alias("partition_file"))
                .groupBy("partition_file")
                .agg(F.count("*").alias("rows"))
                .withColumn("stage", F.lit(stage))
                .withColumn("params_hash", F.lit(phash))
            )
            lineage.write.mode("overwrite").parquet(str(lpath))
            summary = (
                self.lineage(stage)
                .agg(
                    F.sum("rows").alias("rows"), F.count("*").alias("n_files")
                )
                .collect()[0]
            )
            rows = int(summary["rows"] or 0)
            n_files = summary["n_files"]

        mdir = self.root / "_metrics"
        mdir.mkdir(exist_ok=True)
        metrics = {
            "stage": stage,
            "params_hash": phash,
            "rows": rows,
            "n_files": int(n_files),
            "wall_ms": wall_ms,
            "committed_at": dt.datetime.now(dt.timezone.utc).isoformat(),
        }
        _atomic_write_json(mdir / f"{stage}.json", metrics)
        _atomic_write_json(self._manifest(stage), metrics)
        return committed

    # -- read --------------------------------------------------------------
    def read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(str(self._stage_dir(stage) / "data"))

    def lineage(self, stage: str | None = None) -> DataFrame:
        base = self.root / "_lineage"
        if stage:
            return self.spark.read.parquet(str(base / f"{stage}.parquet"))
        # whole-store read: per-stage snapshots are sibling DIRECTORIES, not
        # hive partitions, so plain directory listing won't descend
        return self.spark.read.option("recursiveFileLookup", "true").parquet(
            str(base)
        )

    def metrics(self) -> list[dict]:
        mdir = self.root / "_metrics"
        if not mdir.exists():
            return []
        return [json.loads(p.read_text()) for p in sorted(mdir.glob("*.json"))]


def _atomic_write_json(path: Path, obj: dict) -> None:
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(obj, indent=1))
    os.replace(tmp, path)
