"""Shared-relation pinning with a deployment-stance knob.

Catalyst does not reuse a subtree across the branches that reference
it — every self-join side, every "aggregate X then join X back", every
frame feeding two sinks re-executes its full upstream lineage per
reference. The engine pins such relations once with :func:`pin` (the
operators, the DAG runner, and the ``stage_boundary`` machinery in
pipelines/corpus.py).

The default pin — ``localCheckpoint(eager=False, MEMORY_AND_DISK)`` —
computes the relation on first touch, truncates the logical plan (no
InMemoryRelation re-planning under AQE), and stores blocks on the
executors. The trade: lineage is GONE, so on a real cluster a lost
executor fails the job instead of recomputing (guide §5). That stance
is right for single-node and dedicated-cluster runs; multi-tenant
clusters with preemption should flip ``NT_PIN_MODE``:

- ``local_checkpoint`` (default): lazy localCheckpoint, MEMORY_AND_DISK.
- ``checkpoint``: reliable checkpoint to ``spark.sparkContext
  .setCheckpointDir(...)`` (the caller must have set it — Spark raises
  otherwise): same plan truncation, survives executor loss, costs a
  durable write per pin.
- ``persist``: MEMORY_AND_DISK cache, pure recompute semantics — no
  action can fail from a lost block, but every downstream plan embeds
  the full upstream tree (InMemoryRelation keeps its cachedPlan), and
  under AQE the driver re-renders that nested tree per query stage:
  measured 22 s of pure TreeNode.generateTreeString per count at stage
  depth 8 (pipelines/corpus.CurationConfig.stage_boundary). Prefer it
  only for shallow plans or with AQE off.

See docs/SCALE.md for the deployment matrix.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_MODES = ("local_checkpoint", "checkpoint", "persist")


def pin_mode() -> str:
    mode = os.environ.get("NT_PIN_MODE", "local_checkpoint")
    if mode not in _MODES:
        raise ValueError(f"NT_PIN_MODE must be one of {_MODES}, got {mode!r}")
    return mode


def pin(df: DataFrame) -> DataFrame:
    """Materialize-once marker for a relation referenced more than once
    downstream (a self-join's sides, an aggregate joined back, a frame
    feeding two upserts): Catalyst would otherwise re-execute its whole
    lineage per reference. Lazy — computed on first touch, so building
    a plan runs no Spark job. The default ``localCheckpoint`` truncates
    the plan and trades lineage for speed (a lost executor fails the
    job); blocks are released with the session. Mechanism per
    ``NT_PIN_MODE`` (module docstring)."""
    from pyspark import StorageLevel

    mode = pin_mode()
    if mode == "checkpoint":
        return df.checkpoint(eager=False)
    if mode == "persist":
        return df.persist(StorageLevel.MEMORY_AND_DISK)
    return df.localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
