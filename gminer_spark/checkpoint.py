"""Superstep checkpoint store with atomic manifest commits.

The reference cannot resume — a killed job restarts from scratch (its
only mid-job persistence is the disk-backed task queue,
/root/reference/core/priority_queue.tpp:21-57).  BASELINE.json's
north_rule requires more: per-superstep state + lineage metrics
persisted so a run killed mid-iteration resumes from the last
committed superstep.

In production this store is an Iceberg table (snapshot per superstep);
the Iceberg runtime jars are not in this image, so the same contract
is implemented over parquet directories plus an atomically-replaced
JSON manifest (`os.replace` — POSIX-atomic, so a reader never sees a
half-written manifest and a killed writer never commits a partial
superstep).  The layout:

    base/
      manifest.json                  {"steps": [{"superstep": k, "metrics": {...}}, ...]}
      state/step=K/*.parquet         state snapshot at superstep K (Spark write)
      metrics/step-K-<uuid>.parquet  one row (superstep, metric...) — the lineage table

A commit runs only the state write's Spark jobs.  The one-row lineage
file is written from the driver with pyarrow (renamed into place from
a dot-file, which Spark's reader skips), and the state is re-read with
the schema it was written with, so no schema-inference job runs.

Only supersteps listed in the manifest are considered committed;
orphan state directories from a crash are ignored and overwritten.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class CheckpointStore:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        os.makedirs(base_dir, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.base, "manifest.json")

    def _read_manifest(self) -> dict[str, Any]:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return {"steps": []}

    def _write_manifest(self, manifest: dict[str, Any]) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path())

    # -- state ------------------------------------------------------------
    def _state_dir(self, superstep: int) -> str:
        return os.path.join(self.base, "state", f"step={superstep}")

    def commit(
        self, superstep: int, state: DataFrame, metrics: dict[str, Any]
    ) -> DataFrame:
        """Persist state for ``superstep``; returns the re-read DataFrame.

        Re-reading truncates lineage — without it the iterative plan
        grows unboundedly (SURVEY.md §4, custom work (a)).  The write
        happens BEFORE the manifest update, so a crash between the two
        leaves an uncommitted (ignored) directory, never a committed
        pointer to missing data.
        """
        path = self._state_dir(superstep)
        if os.path.exists(path):
            shutil.rmtree(path)
        state.write.mode("overwrite").parquet(path)
        manifest = self._read_manifest()
        # Committing step k invalidates any LATER steps from a previous
        # run over the same store (re-run with resume=False, or a
        # shorter run): drop them so latest()/resume never continues
        # from stale state, and clear a stale final marker.
        manifest["steps"] = [
            s for s in manifest["steps"] if s["superstep"] < superstep
        ]
        manifest["steps"].append({"superstep": superstep, "metrics": metrics})
        manifest["steps"].sort(key=lambda s: s["superstep"])
        if manifest.get("final_superstep", -1) > superstep:
            manifest.pop("final_superstep", None)
        self._write_manifest(manifest)
        self._append_metrics(superstep, metrics)
        return self.spark.read.schema(state.schema).parquet(path)

    def latest(self) -> tuple[int, DataFrame, dict[str, Any]] | None:
        """(superstep, state, metrics) of the newest committed step."""
        manifest = self._read_manifest()
        if not manifest["steps"]:
            return None
        last = manifest["steps"][-1]
        k = last["superstep"]
        return k, self.spark.read.parquet(self._state_dir(k)), last["metrics"]

    def committed_steps(self) -> list[int]:
        return [s["superstep"] for s in self._read_manifest()["steps"]]

    # -- lineage metrics table ---------------------------------------------
    def _append_metrics(self, superstep: int, metrics: dict[str, Any]) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        row = {"superstep": pa.array([int(superstep)], pa.int64())}
        for k, v in metrics.items():
            if k == "superstep":
                continue  # the int column above, never float-coerced
            if isinstance(v, (int, float)):
                row[k] = pa.array([float(v)], pa.float64())
            else:
                row[k] = pa.array([str(v)], pa.string())
        out = os.path.join(self.base, "metrics")
        os.makedirs(out, exist_ok=True)
        name = f"step-{superstep}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(out, "." + name)
        pq.write_table(pa.table(row), tmp)
        os.replace(tmp, os.path.join(out, name))

    def metrics(self) -> DataFrame:
        # metric keys differ across phases (init vs iterate), so each
        # append may carry a different schema; without mergeSchema the
        # read's schema depends on WHICH footer Spark samples — flaky.
        return self.spark.read.option("mergeSchema", "true").parquet(
            os.path.join(self.base, "metrics")
        )
