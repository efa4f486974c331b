"""The mechanism shared by the size-gated graph operators.

``connected_components`` (dedup.py) and ``pagerank``,
``jaccard_link_prediction``, ``k_core`` and ``label_propagation``
(baskets.py) each take an undirected pair graph and answer on one of
two arms, chosen from the size of that graph:

- **Driver arm.** Pair graphs come from bounded candidate generators
  (the dedup df-caps, the basket cap), so they are model-sized by
  construction, and every distributed round costs a fixed scheduler
  overhead that dwarfs the driver arithmetic (measured: CC's loop spent
  ~5 s on a graph a union-find closes in <0.1 s). A graph of at most
  ``small_graph_max`` undirected edges is fetched once through Arrow
  into two numpy endpoint arrays and solved in-process.
  ``small_graph_max=0`` forces the other arm; both arms compute the
  same integer or per-round-rounded arithmetic and are equality-tested.
- **Checkpoint loop** (Pregel's vertex/edge split, SIGMOD 2010). The
  directed edge table is persisted and materialized once and never
  changes; each round derives an O(V) vertex state from it and the
  previous state.
  The state is broadcast into the round's edge join while the directed
  table has at most ``BROADCAST_EDGES_MAX`` rows (vertices <= directed
  edges), so a round moves vertex state, not edges; above the cut it is
  shuffle-joined, correct but slower. Every round's state is an EAGER
  localCheckpoint: persist alone does not bound an iterative loop, whose
  logical plan otherwise grows with every round until Catalyst analysis,
  not data, dominates (measured 330 s on a 20-vertex path before
  checkpointing, ~6 s after). The predecessor is released as soon as its
  successor materializes, so a loop holds the edge table and one state.

Every call logs one INFO decision record on this module's logger: the
operator, the arm, the undirected edge count and the cuts it was
compared against.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache import local_checkpoint_tracked, persist_tracked, release_tracked

_log = logging.getLogger(__name__)

# Directed-edge rows above which a loop shuffle-joins its vertex state
# instead of broadcasting it: vertices <= directed edges, and ~5M keys
# of a few dozen bytes is the conventional upper end of a safe
# broadcast on a multi-GB executor.
BROADCAST_EDGES_MAX = 5_000_000


def _is_integral(dt) -> bool:
    """True for the integral Spark types that widen losslessly to
    bigint (byte/short/int/long)."""
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))


class EdgeTable:
    """One call's undirected edge table and the arm its size chose.

    The table has columns ``(a, b)`` with ``a <= b``: rows with a null
    endpoint are dropped, duplicates and reversed duplicates collapse,
    and self-loops stay only when ``self_loops`` is set. It is persisted
    and counted once; the count ``n`` serves both cuts.

    - ``arrays``: the ``(a, b)`` numpy endpoint arrays when the driver
      arm runs, else None. ``driver_fits(a, b)`` may decline the driver
      arm after the fetch (a cost that the edge count does not bound).
    - ``edges``: the persisted directed table (both orientations)
      when the loop runs (``plan`` is None); the undirected table is
      then released.
    - ``und``: the persisted undirected table, for a distributed
      ``plan`` other than the loop.
    """

    def __init__(
        self,
        df: DataFrame,
        a_col: str,
        b_col: str,
        op: str,
        small_graph_max: int,
        self_loops: bool,
        driver_fits=None,
        plan: str | None = None,
    ):
        ta, tb = df.schema[a_col].dataType, df.schema[b_col].dataType
        a, b = F.col(a_col), F.col(b_col)
        if ta != tb:
            if not (_is_integral(ta) and _is_integral(tb)):
                raise TypeError(
                    f"{op}: pair columns must share one id type, got "
                    f"{a_col}:{ta.simpleString()} vs {b_col}:{tb.simpleString()}"
                )
            a, b = a.cast("bigint"), b.cast("bigint")
        # nulls go first: least/greatest skip a null argument, which
        # would turn (NULL, x) into the self-loop (x, x)
        e = df.filter(a.isNotNull() & b.isNotNull()).select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        if not self_loops:
            e = e.filter(F.col("a") != F.col("b"))
        self.op = op
        self.und = persist_tracked(e.distinct())
        self.n = self.und.count()
        self.vtype = self.und.schema["a"].dataType
        self.arrays = self.edges = None
        self.broadcast = 2 * self.n <= BROADCAST_EDGES_MAX
        if 0 < small_graph_max and self.n <= small_graph_max:
            pdf = self.und.toPandas()
            arrays = pdf["a"].to_numpy(), pdf["b"].to_numpy()
            if driver_fits is None or driver_fits(*arrays):
                self.arrays = arrays
        if self.arrays is not None:
            arm = "driver arm"
        elif plan is not None:
            arm = plan
        else:
            arm = "broadcast loop" if self.broadcast else "join loop"
            rev = self.und.select(F.col("b").alias("a"), F.col("a").alias("b"))
            if self_loops:
                rev = rev.filter(F.col("a") != F.col("b"))
            # a persisted (columnar) table, not a checkpoint: the loop
            # plans stay flat either way, and the columnar cache is a
            # fraction of a checkpoint's deserialized rows
            self.edges = persist_tracked(self.und.unionByName(rev))
            self.edges.count()
            release_tracked(self.und)
        _log.info(
            "%s: %s, %d undirected edges vs small_graph_max %d, "
            "%d directed vs BROADCAST_EDGES_MAX %d",
            op, arm, self.n, small_graph_max, 2 * self.n, BROADCAST_EDGES_MAX,
        )

    def frame(self, rows, fields) -> DataFrame:
        """The driver arm's result rows as a DataFrame; ``fields`` are
        ``(name, type)`` pairs (``self.vtype`` for vertex columns)."""
        schema = T.StructType([T.StructField(n, t) for n, t in fields])
        return self.und.sparkSession.createDataFrame(rows, schema)

    def bc(self, df: DataFrame) -> DataFrame:
        """Hint a vertex-bounded side of a loop join to broadcast, below
        the cut."""
        return F.broadcast(df) if self.broadcast else df

    def loop(self, state: DataFrame, step, rounds: int, until=None) -> DataFrame:
        """Carry ``state`` through ``rounds`` applications of
        ``step(state) -> next state`` over the fixed edge table, each
        round checkpointed and its predecessor released. With ``until``,
        stop at the first state it accepts and raise if none is."""
        state = local_checkpoint_tracked(state)
        for _ in range(rounds):
            nxt = local_checkpoint_tracked(step(state))
            release_tracked(state)
            state = nxt
            if until is not None and until(state):
                return state
        if until is not None:
            raise RuntimeError(
                f"{self.op}: no fixpoint within {rounds} rounds "
                "(raise the round limit)"
            )
        return state
