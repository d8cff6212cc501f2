"""One superstep loop for every iterative operator.

Reference: pregel/src/main/java/org/neo4j/gds/beta/pregel/Pregel.java:154-190
runs every iterative algorithm through one loop — compute, masterCompute,
stop test.  ``run_supersteps`` is that loop for DataFrame state; an operator
supplies only its superstep body:

- ``init() -> (frames, aggregates)``: the superstep-0 state.  Its columns are
  the state schema: every later superstep keeps exactly these columns.
- ``step(state, seen, t) -> (frames, aggregates)``: superstep ``t`` from the
  previous state and the aggregates observed on its write.  A frame may
  carry extra columns for its aggregates; they are dropped before the write.
- ``done(state, seen, t) -> bool``: the stop test, run on the driver after
  each write (the masterCompute analog).  It may add driver-side globals to
  ``seen``; they are logged with the superstep.

``frames`` is one DataFrame, or a dict name -> DataFrame for state with
several streams (the reference keeps one value array per schema element,
pregel/.../NodeValue.java:44-60): each is written under its name, and
``state`` is the dict of committed frames.  A step may leave out a frame
that did not change (or return the committed one as is): it is carried over
unwritten.  ``init`` may leave frames out too, even all of them; a frame is
then written first by the step that first returns it, with the columns it
has there.  Resume stays single-frame: named frames with an ``identity``
raise.

``aggregates`` maps names to Column aggregates.  They ride the checkpoint
write (of the first frame written) as ``observe()`` metrics, so a superstep
is one Spark action per frame; a ``None`` result (no rows) is read as 0.
Names starting with ``_`` are driver-only scalars (e.g. a norm) and are not
logged.

``window=K`` composes K supersteps into one write.  ``step`` still runs once
per superstep, but only the step that closes a window — ``t % K == 0`` or
``t == max_steps``, so a resumed run keeps the windows of an uninterrupted
one — is written, observed and tested by ``done``; there is one metrics row
per window.  Every other step's frames are persisted (MEMORY_AND_DISK) and
handed to the next step as its state, so the window runs as one job in
which no step is computed twice, and they are unpersisted once the boundary
write commits (also when a step raises).  In-window steps see the ``seen``
of the last boundary.  A fixpoint reached inside a window is found at its
boundary: the steps after it are no-ops for monotone updates (min-label,
reachability), while a contraction such as PageRank runs up to K - 1 extra
supersteps.

The loop owns everything else: the (graph, config) fingerprint, the
checkpointer with its superstep-0 cost report (planned supersteps
0..max_steps), durable resume, AQE off, the metrics row (``wall_s``
cumulative, ``step_s`` for the step or window alone) and the
``algorithm:superstep`` Spark job description.  ``reach`` is the one
level-synchronous frontier-expansion step built on it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Callable, NamedTuple, Optional, Union

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from graph_data_science_spark.plans.checkpoint import (
    SuperstepCheckpointer,
    graph_fingerprint,
)
from graph_data_science_spark.plans.estimate import cost_report
from graph_data_science_spark.session import no_aqe

Aggregates = dict[str, Column]
Frames = Union[DataFrame, dict[str, DataFrame]]
Frame = tuple[Frames, Aggregates]


class Run(NamedTuple):
    state: Frames  # the last committed superstep
    seen: dict  # aggregates observed on its write (+ globals added by done)
    steps: int  # the superstep that stopped the loop, else max_steps
    converged: bool
    metrics: list


@contextmanager
def _job_tags(spark: SparkSession):
    """Yield a setter for the Spark job description; the caller's own
    description is restored on exit, also when the body raises."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    try:
        yield sc.setJobDescription
    finally:
        sc.setJobDescription(caller)


def _write(
    ckpt: SuperstepCheckpointer,
    frame: Frames,
    aggregates: Aggregates,
    t: int,
    columns,
    committed: Optional[Frames] = None,
    name: str = "state",
) -> tuple[Frames, dict]:
    """Checkpoint superstep ``t`` of stream ``name`` (projected to
    ``columns``) with its aggregates observed on the write: one action.
    Named frames are written each under its name, except those that are
    still the ``committed`` ones; the aggregates are observed on the first
    written, whose columns are fixed here if it has none yet."""
    if isinstance(frame, dict):
        state, seen = dict(committed or {}), {}
        for n, f in frame.items():
            if f is state.get(n):
                continue
            state[n], obs = _write(
                ckpt, f, aggregates, t, columns.setdefault(n, f.columns), name=n
            )
            seen, aggregates = seen or obs, {}
        return state, seen
    obs = Observation()
    if aggregates:
        frame = frame.observe(obs, *[c.alias(k) for k, c in aggregates.items()])
    state = ckpt.checkpoint(frame.select(*columns), t, name)
    if not aggregates:
        return state, {}
    return state, {k: 0 if v is None else v for k, v in obs.get.items()}


def _hold(frame: Frames, lazy: Frames, columns, held: list) -> Frames:
    """The in-window state after a step: each new frame projected to its
    columns and persisted, so the next step and the boundary write share
    it; ``held`` collects what to unpersist."""
    if isinstance(frame, dict):
        return {
            n: f if f is lazy.get(n) else _hold(f, {}, columns.setdefault(n, f.columns), held)
            for n, f in frame.items()
        }
    held.append(frame.select(*columns).persist(StorageLevel.MEMORY_AND_DISK))
    return held[-1]


def _begin(
    nodes: DataFrame,
    edges: DataFrame,
    init: Callable[[], Frame],
    *,
    algorithm: str,
    max_steps: int,
    checkpoint_path: Optional[str] = None,
    identity: Optional[dict] = None,
) -> tuple[SuperstepCheckpointer, Frames, dict, int]:
    """(checkpointer, state, seen, superstep to continue from) of one run.

    The superstep-0 cost report is logged first.  With both a durable path
    and an ``identity`` (the config that decides the result), committed
    supersteps are stamped with a (graph, config) fingerprint, and the run
    resumes from its latest COMMITTED superstep when one lies strictly
    inside (0, max_steps): every step is a deterministic (or monotone)
    function of the previous state, so the resumed run lands where an
    uninterrupted one would.  Otherwise superstep 0 is built and written.
    """
    fp = None
    if checkpoint_path is not None and identity is not None:
        fp = graph_fingerprint(nodes, edges, algorithm=algorithm, **identity)
    ckpt = SuperstepCheckpointer(nodes.sparkSession, checkpoint_path, fingerprint=fp)
    ckpt.log(0, estimate=cost_report(algorithm, nodes, edges, max_steps + 1))
    resumed = ckpt.latest_superstep() if fp is not None else None
    if resumed is not None and 0 < resumed < max_steps:
        ckpt.log(resumed, algorithm=algorithm, resumed_from=resumed)
        return ckpt, ckpt.load(resumed), {}, resumed
    frames, aggregates = init()
    if identity is not None and not isinstance(frames, DataFrame):
        raise ValueError(f"{algorithm}: named frames do not resume; drop identity")
    columns = frames.columns if isinstance(frames, DataFrame) else {}
    state, seen = _write(ckpt, frames, aggregates, 0, columns)
    return ckpt, state, seen, 0


def zero(name: str) -> Callable[[DataFrame, dict, int], bool]:
    """Stop test: the observed aggregate ``name`` reached 0."""
    return lambda state, seen, t: seen[name] == 0


def run_supersteps(
    nodes: DataFrame,
    edges: DataFrame,
    init: Callable[[], Frame],
    step: Callable[[Frames, dict, int], Frame],
    *,
    algorithm: str,
    max_steps: int,
    done: Callable[[Frames, dict, int], bool],
    checkpoint_path: Optional[str] = None,
    identity: Optional[dict] = None,
    window: int = 1,
) -> Run:
    """Run supersteps 1..max_steps, ``window`` per write, until ``done``
    (see module docstring)."""
    spark = nodes.sparkSession
    held: list = []  # the persisted frames of the open window
    with _job_tags(spark) as describe:
        describe(f"{algorithm}:0")
        ckpt, state, seen, first = _begin(
            nodes, edges, init, algorithm=algorithm, max_steps=max_steps,
            checkpoint_path=checkpoint_path, identity=identity,
        )
        columns = state.columns if isinstance(state, DataFrame) else {
            name: frame.columns for name, frame in state.items()
        }
        t0 = lap = time.time()
        lazy = state  # the latest superstep, committed or held in the window
        try:
            with no_aqe(spark):
                for t in range(first + 1, max_steps + 1):
                    describe(f"{algorithm}:{t}")
                    frames, aggregates = step(lazy, seen, t)
                    if isinstance(frames, dict):  # the step's, then the carried
                        frames = {**frames, **{n: lazy[n] for n in lazy if n not in frames}}
                    if t % window and t < max_steps:
                        lazy = _hold(frames, lazy, columns, held)
                        continue
                    state, seen = _write(ckpt, frames, aggregates, t, columns, state)
                    lazy = state
                    while held:
                        held.pop().unpersist()
                    stop = done(state, seen, t)
                    now = time.time()
                    ckpt.log(
                        t, algorithm=algorithm,
                        **{k: v for k, v in seen.items() if not k.startswith("_")},
                        wall_s=now - t0, step_s=now - lap,
                    )
                    lap = now
                    if stop:
                        return Run(state, seen, t, True, ckpt.metrics)
        finally:
            for frame in held:
                frame.unpersist()
    return Run(state, seen, max_steps, False, ckpt.metrics)


def reach(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: Union[DataFrame, Callable[[], DataFrame]],
    expand: Callable[[DataFrame, int], DataFrame],
    *,
    keys: list,
    level: str,
    algorithm: str,
    max_steps: int,
    checkpoint_path: Optional[str] = None,
    window: int = 1,
) -> Run:
    """Level-synchronous frontier expansion (algo/.../traverse/BFS.java).

    ``seeds`` are the level-0 rows (or a function building them, whose jobs
    are then described ``algorithm:0``); ``expand(frontier, t)`` returns the rows
    one hop out (``keys`` plus the seeds' other columns, distinct on
    ``keys``).  Reached rows and the frontier are ONE frame, the frontier
    flagged ``_new``: superstep ``t`` tags the expansion rows whose ``keys``
    are unreached ``level = t`` and unions them in — one write, whose
    observed ``new`` count is the stop test.  With ``window=1`` the deepest
    level is ``steps - 1`` if the run converged, else ``steps``; a wider
    window may stop a few empty levels later.
    """

    def init():
        level0 = seeds() if callable(seeds) else seeds
        return level0.withColumn(level, F.lit(0)).withColumn("_new", F.lit(True)), {}

    def step(state, seen, t):
        fresh = expand(state.where("_new").drop("_new"), t).join(
            state.select(*keys), keys, "left_anti"
        )
        return state.withColumn("_new", F.lit(False)).unionByName(
            fresh.withColumn(level, F.lit(t)).withColumn("_new", F.lit(True))
        ), {"new": F.sum(F.col("_new").cast("long"))}

    run = run_supersteps(
        nodes, edges, init, step, algorithm=algorithm, max_steps=max_steps,
        done=zero("new"), checkpoint_path=checkpoint_path, window=window,
    )
    return run._replace(state=run.state.drop("_new"))
