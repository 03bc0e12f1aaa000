"""One loop driver for the iterative operators: PageRank, BFS, SSSP,
k-core, LPA and HITS (``graph``), k-means (``clustering``), both
connected-components variants (``dedup``) and the BPE and greedy-decode
loops (``plans.training``). Each loop keeps only its step; ``Rounds``
owns the loop policy:

1. **Cuts.** Every lineage cut is a lazy
   ``session.resilient_local_checkpoint`` (plain ``localCheckpoint``
   under ``local[n]``, a replicated level on a multi-executor cluster).
   A loop cuts round state only where two or more later consumers
   would otherwise re-derive it: under AQE each cut runs its child's
   shuffle stages when it is called, a blocking driver sync per cut,
   while state read once per round just chains into one DAG.
2. **Freeing.** State a loop replaces goes through ``replace``. Each
   generation is tracked by its own RDD id, and generation k-2 is
   unpersisted only once every partition of generation k-1 is in the
   block manager: until then k-1 still computes from k-2, and a freed
   local checkpoint cannot be recomputed. The caller's side of the
   contract: a new generation's lineage reads only the previous one,
   and nothing the loop keeps reads an older one. Everything else a
   loop cuts is left to the ContextCleaner; caller caches are never
   touched.
3. **Plan depth.** State never cut per round (PageRank ranks, LPA
   labels) and unions the next round reads again (BFS ``visited``,
   SSSP improvements) go through ``bound``, which cuts them every
   ``_CUT_EVERY`` rounds, so the plan stays bounded at any round count.
4. **Convergence.** ``until_stable`` runs a step that reports whether
   anything changed (the count comes from the job that materializes
   the round's cut) and raises once the round budget is spent.

``Rounds`` runs no job of its own and sets no job group or local
property, so a Tracer attributes a loop's jobs to the span it runs in.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import DataFrame

from pipeline_query_engine_demo_spark.session import resilient_local_checkpoint

#: Rounds between plan-depth cuts. Above every registered round count
#: of the loops ``bound`` serves (2-4), so no registered plan changes.
_CUT_EVERY = 8


def _stored(jrdd) -> bool:
    """True once every partition of ``jrdd`` has a block in the block
    manager."""
    jvm = SparkContext._jvm
    master = jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    return all(
        master.contains(jvm.org.apache.spark.storage.RDDBlockId(jrdd.id(), i))
        for i in range(jrdd.getNumPartitions())
    )


class Rounds:
    """Per-loop driver; see the module docstring for the policy."""

    def __init__(self) -> None:
        self._gens: list = []  # JVM RDDs of replaced state, oldest first

    @staticmethod
    def cut(df: DataFrame) -> DataFrame:
        """Lazy lineage cut of state the loop keeps (freed at GC)."""
        return resilient_local_checkpoint(df, eager=False)

    def replace(self, df: DataFrame) -> DataFrame:
        """Cut the next generation of state that replaces the previous
        one, and free the generations nothing can read any more."""
        out = self.cut(df)
        self._gens.append(out._jdf.queryExecution().analyzed().rdd())
        while len(self._gens) > 2 and _stored(self._gens[1]):
            self._gens.pop(0).unpersist(False)
        return out

    def bound(self, r: int, df: DataFrame) -> DataFrame:
        """``df`` cut before every ``_CUT_EVERY``-th round ``r`` > 0."""
        return self.cut(df) if r and r % _CUT_EVERY == 0 else df

    @staticmethod
    def until_stable(state, step, max_rounds: int, what: str):
        """Apply ``step(state) -> (state, changed)`` until nothing
        changes; raise if it still changes after ``max_rounds``."""
        for _ in range(max_rounds):
            state, changed = step(state)
            if not changed:
                return state
        raise RuntimeError(
            f"{what} did not converge in {max_rounds} rounds; raise max_iter"
        )
