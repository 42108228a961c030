"""Session-scoped artifact memos shared by the training-style operator
chains (the GD quality head in curation.py, the BPE merge chain in
text.py): within one SparkSession, an expensive deterministic learning
chain over the SAME input data runs once and later consumers reuse its
artifacts.

Key recipe (the GD-memo discipline, r9-r12 hardened):

- Data identity needs BOTH halves: the canonicalized analyzed plan pins
  the OPERATOR structure (filters, projections — attribute indices and
  literals survive canonicalization) but prints file relations as a bare
  ``Relation [...] parquet`` with NO path, so every documents table at
  every scale factor collides on it; ``inputFiles()`` pins the actual
  data files but not the operators.
- In-memory frames (LogicalRDD / LocalRelation) carry neither —
  ``inputFiles()`` is empty — and are never memoized (two different test
  corpora with the same schema would otherwise share a trained
  artifact; observed twice in the full suite before this rule).
- Entries from STOPPED sessions are evicted on the next memo access so
  a long-lived process cycling sessions cannot accrete them.

Stored artifacts must be RECOMPUTE-SAFE: plain driver-side values
and/or persist()ed frames (worst case a re-scan), never localCheckpoints
(non-reliable storage — eviction makes the frame unrecomputable, the
documented r12 failure mode)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_data_key(df: DataFrame, *extra) -> tuple | None:
    """Memo key for `df`'s data identity plus hashable `extra` params;
    None when the frame has no file-backed identity (never memoize)."""
    try:
        files = tuple(sorted(df.inputFiles()))
        if not files:
            return None
        plan = df._jdf.queryExecution().analyzed().canonicalized().toString()  # noqa: SLF001
        return (id(df.sparkSession), plan, files, *extra)
    except Exception:  # noqa: BLE001 — memos are an optimization, never a dependency
        return None


def _confirmed_stopped(frame) -> bool:
    """True only when ``frame``'s session is known to have stopped:
    ``SparkContext.stop()`` cleared its ``_jsc``, or the JVM context
    reports ``isStopped()``. A probe that raises (a transient py4j
    failure on a healthy session) proves nothing, so it reads as live."""
    try:
        jsc = frame.sparkSession.sparkContext._jsc  # noqa: SLF001
        return jsc is None or bool(jsc.sc().isStopped())
    except Exception:  # noqa: BLE001
        return False


def sweep_dead_sessions(memo: dict, frame_of=lambda v: v[0]) -> None:
    """Evict memo entries whose owning SparkSession has stopped — their
    persisted frames are unreachable through any live session and would
    otherwise pin memory for the process lifetime (ADVICE r9). Only a
    confirmed stop evicts: dropping a live session's entry would rerun
    the chain it memoizes. ``frame_of`` extracts a DataFrame from a
    stored value."""
    for key in list(memo):
        if _confirmed_stopped(frame_of(memo[key])):
            memo.pop(key, None)
