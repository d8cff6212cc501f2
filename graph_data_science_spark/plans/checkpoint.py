"""Superstep state checkpointing + per-partition lineage metrics.

Iterative DataFrame algorithms grow their logical plan every superstep; left
unchecked, Catalyst analysis time explodes (SURVEY.md §4 "iteration plan
management").  The reference keeps state in dense in-memory arrays
(pregel/src/main/java/org/neo4j/gds/beta/pregel/NodeValue.java); our analog is
a per-superstep materialization that truncates lineage and — when a durable
path is configured — makes any superstep resumable (north rule: "resumable
from checkpoint with per-partition lineage + metrics").

Two modes, BOTH parquet write+read (never ``localCheckpoint``):
- ephemeral (default): state goes to a session temp dir; old supersteps are
  garbage-collected as iteration advances, the dir dies with the process.
- durable: write state to ``<path>/state/superstep=N/`` (parquet here; the
  table format is pluggable — on a cluster this is an Iceberg table and the
  atomic snapshot commit is the transactional analog of the reference's
  write-back tx, SURVEY.md §3.3), kept for resume.  Metrics rows (one per
  superstep, with per-partition row counts = the lineage record) append to
  ``<path>/metrics``.

Why not ``localCheckpoint(eager=True)``: it truncates the plan and the RDD
lineage, but the resulting LogicalRDD *preserves the upstream sizeInBytes
statistic*.  Catalyst's fallback join estimate is the PRODUCT of child sizes
(SizeInBytesOnlyStatsPlanVisitor.visitJoin -> default), so an iterative
join loop squares sizeInBytes every superstep — after ~17 supersteps the
BigInteger arithmetic inside stats estimation dominates the round (measured:
2-3x wall-time growth per superstep, sizeInBytes ~1e400).  A parquet
round-trip resets stats to the actual file size and keeps every superstep
O(1) planning cost — and is the Iceberg-checkpoint pattern the north rule
wants anyway.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SuperstepCheckpointer:
    # how many past supersteps to keep on disk PER STATE NAME in ephemeral
    # mode (the in-flight superstep may still lazily read its predecessor;
    # eviction is per-name because algorithms interleave several state
    # streams — e.g. Louvain's per-level state / assignment / coarse edges)
    EPHEMERAL_KEEP = 3

    def __init__(
        self,
        spark: SparkSession,
        path: str | None = None,
        run_id: str = "run",
        fingerprint: str | None = None,
    ):
        self.spark = spark
        self.path = path
        self.run_id = run_id
        # identity stamp of (graph, config) for durable resume: committed
        # manifests carry it, and latest_superstep() ignores supersteps whose
        # stamp differs — rerunning an algorithm on an UPDATED graph (the
        # seeded/incremental use case) with a reused checkpoint path must not
        # silently resume stale state that is missing the new nodes.
        self.fingerprint = fingerprint
        self._metrics: list[dict[str, Any]] = []
        self._ephemeral = path is None
        if self._ephemeral:
            self._tmp = tempfile.mkdtemp(prefix="gds-superstep-")
            self._history: dict[str, list[str]] = {}
        else:
            os.makedirs(os.path.join(path, "state"), exist_ok=True)
            os.makedirs(os.path.join(path, "metrics"), exist_ok=True)

        if self._ephemeral:
            # NOT __del__: result DataFrames returned to callers lazily read
            # the final superstep's parquet, which must outlive this object.
            atexit.register(shutil.rmtree, self._tmp, ignore_errors=True)

    # -- state ---------------------------------------------------------------
    def checkpoint(self, df: DataFrame, superstep: int, name: str = "state") -> DataFrame:
        """Materialize superstep state, truncating lineage AND plan stats.

        The read-back passes the (already known) schema explicitly — schema
        inference otherwise runs a footer-listing Spark job per superstep,
        doubling the serial driver floor of every iteration loop.
        """
        schema = df.schema
        if self._ephemeral:
            p = os.path.join(self._tmp, f"{name}_superstep={superstep:05d}")
            df.write.mode("overwrite").parquet(p)
            hist = self._history.setdefault(name, [])
            hist.append(p)
            while len(hist) > self.EPHEMERAL_KEEP:
                shutil.rmtree(hist.pop(0), ignore_errors=True)
            return self.spark.read.schema(schema).parquet(p)
        p = self._state_path(superstep, name)
        df.write.mode("overwrite").parquet(p)
        # durable mode: _SUCCESS markers are disabled and the v2 committer
        # renames task-side, so a job dying mid-write can leave SOME part
        # files visible.  An explicit commit manifest (written only after the
        # parquet write returns) is the durability barrier resume trusts.
        # The manifest doubles as the per-partition lineage record (north
        # rule: "checkpoints per-partition lineage"): row count per part file
        # read from the parquet footers — no Spark job.
        parts = sorted(f for f in os.listdir(p) if f.startswith("part-"))
        lineage = {}
        try:
            import pyarrow.parquet as pq

            for part in parts:
                lineage[part] = pq.ParquetFile(os.path.join(p, part)).metadata.num_rows
        except Exception:  # lineage is best-effort; the commit barrier is not
            lineage = {}
        with open(os.path.join(p, "_COMMITTED"), "w") as fh:
            json.dump(
                {
                    "superstep": superstep,
                    "name": name,
                    "parts": parts,
                    "rows_per_part": lineage,
                    "total_rows": sum(lineage.values()) if lineage else None,
                    "fingerprint": self.fingerprint,
                },
                fh,
            )
        return self.spark.read.schema(schema).parquet(p)

    def _state_path(self, superstep: int, name: str = "state") -> str:
        return os.path.join(self.path, "state", f"{name}_superstep={superstep:05d}")

    def latest_superstep(self, name: str = "state") -> int | None:
        """Highest superstep with committed durable state (for resume)."""
        if self.path is None:
            return None
        base = os.path.join(self.path, "state")
        steps = []
        for d in os.listdir(base):
            if not d.startswith(f"{name}_superstep="):
                continue
            full = os.path.join(base, d)
            # a superstep is committed iff the _COMMITTED manifest exists —
            # part files alone are NOT trusted (_SUCCESS markers are disabled
            # in session.py, and the v2 committer renames task-side, so a
            # mid-write crash leaves partial part files visible)
            manifest = os.path.join(full, "_COMMITTED")
            if not os.path.exists(manifest):
                continue
            if self.fingerprint is not None:
                # (graph, config) identity check: ignore state committed by a
                # run with a different stamp (or by a pre-stamp run) — a
                # mismatched resume would drop new nodes / apply old config.
                try:
                    with open(manifest) as fh:
                        stamp = json.load(fh).get("fingerprint")
                except Exception:
                    continue
                if stamp != self.fingerprint:
                    continue
            steps.append(int(d.split("=")[1]))
        return max(steps) if steps else None

    def load(self, superstep: int, name: str = "state") -> DataFrame:
        return self.spark.read.parquet(self._state_path(superstep, name))

    # -- metrics ---------------------------------------------------------------
    def log(self, superstep: int, **kw: Any) -> None:
        rec = {"run_id": self.run_id, "superstep": superstep, "ts": time.time(), **kw}
        self._metrics.append(rec)
        if self.path:
            fp = os.path.join(self.path, "metrics", f"superstep_{superstep:05d}.json")
            with open(fp, "w") as f:
                json.dump(rec, f, default=str)

    @property
    def metrics(self) -> list[dict[str, Any]]:
        return list(self._metrics)


def graph_fingerprint(nodes: DataFrame, edges: DataFrame, **config: Any) -> str:
    """Identity stamp of (graph content, algorithm config) for durable resume.

    One aggregate job per table: row count + an order-independent content hash
    (bit_xor of per-row xxhash64 over the id/src/dst columns — xor never
    overflows under ANSI mode, unlike sum).  Catching "same counts, different
    edges" matters for the incremental/seeded use case; a full-column hash
    would be strictly stronger but costs a full-width scan — keys are the part
    that changes when a graph is updated.  Config kwargs are folded in
    verbatim so a tolerance/threshold change also invalidates resume.  Only
    called when a durable checkpoint_path is configured.
    """
    import hashlib

    n = nodes.agg(
        F.count(F.lit(1)).alias("c"), F.bit_xor(F.xxhash64("id")).alias("h")
    ).first()
    e = edges.agg(
        F.count(F.lit(1)).alias("c"), F.bit_xor(F.xxhash64("src", "dst")).alias("h")
    ).first()
    payload = json.dumps(
        {"n": [n["c"], n["h"]], "e": [e["c"], e["h"]], "cfg": config},
        sort_keys=True,
        default=str,
    )
    return hashlib.md5(payload.encode()).hexdigest()
