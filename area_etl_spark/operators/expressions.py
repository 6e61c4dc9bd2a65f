"""Shared expression/plan utilities used across operator modules.

Two concerns live here because every corpus-scale operator family needs
them and they must not drift per module:

- :func:`bind_once` — the higher-order-function captured-expression fix
  (evaluate an expression once per row, not once per array element).
- :func:`materialize` — the one lineage cut in the package, with a
  documented scale/fault-tolerance dial (guide §5: ``localCheckpoint`` is
  the cheap local-mode lineage cut, but its blocks are executor-local and
  UNREPLICATED — an executor loss mid-query fails the job instead of
  recomputing, and corpus-sized checkpoints must fit executor
  memory+disk).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bind_once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE per row and hand the bound value to ``fn``.

    A higher-order-function lambda that CAPTURES a computed expression
    re-evaluates that expression per element — interpreted HOF evaluation
    has no common-subexpression elimination, so e.g. a shingle transform
    whose lambda slices ``split(trim(lower(text)))`` re-runs the full
    tokenize once per shingle (measured 4.5× on the corpus scan).  Wrapping
    the expression as the single element of an outer ``transform`` binds it
    to a lambda VARIABLE: one evaluation, then every inner reference is a
    cheap bound read.  Pure expression rewrite — values are identical.
    """
    return F.element_at(F.transform(F.array(expr), fn), 1)


MATERIALIZE_MODES = ("local", "reliable")


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Compute ``df`` once and let every downstream consumer read the
    result back instead of re-running its subtree (guide §2.4 — the
    "decide on a table you computed once" shape).

    ``eager=False`` by default: the materialization runs as part of the
    FIRST consumer's job instead of as a separate blocking job at
    DataFrame-construction time (measured r15: the eager variant cost the
    retrieval scorers ~15-20% at sf0.1 — one extra job submission plus a
    barrier that overlaps with nothing — and ADVICE r14 flagged that an
    eager checkpoint runs even if the caller never executes the result).
    Pass ``eager=True`` only when construction-time side effects are the
    point (e.g. freezing partition ids before an AQE re-plan).

    Storage/fault-tolerance dial (``SPARK_GRAFT_MATERIALIZE``):

    - ``local`` (default): ``localCheckpoint`` — blocks live on executors
      with NO lineage and NO replication.  Right for local/bench runs and
      for clusters where a rare executor loss may fail a query (it will be
      retried whole).  Cheapest.
    - ``reliable``: ``checkpoint`` to the directory named by
      ``SPARK_GRAFT_CHECKPOINT_DIR`` (set on the session on first use,
      unless it already has one) — survives executor loss
      entirely; costs a write+read of the materialized table to shared
      storage.  Use for corpus-sized intermediates on long multi-tenant
      runs.

    An unknown mode, or ``reliable`` without a checkpoint directory,
    raises ``ValueError`` naming the setting.
    """
    mode = os.environ.get("SPARK_GRAFT_MATERIALIZE", "local")
    if mode not in MATERIALIZE_MODES:
        raise ValueError(
            f"SPARK_GRAFT_MATERIALIZE={mode!r}: expected one of {', '.join(MATERIALIZE_MODES)}"
        )
    if mode == "reliable":
        ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
        if not ckpt_dir:
            raise ValueError("SPARK_GRAFT_MATERIALIZE=reliable needs SPARK_GRAFT_CHECKPOINT_DIR set to a directory")
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
