"""The one iteration driver.  The iterative operators (components.py's
graph loops, sparql.path_closure, bpe.bpe_train) are a seed state plus
a module-level ``step(state, r)``, ``r`` the 1-based round;
:meth:`Iteration.run` alone persists, checkpoints and unpersists:

(a) a state the next round reads once is localCheckpointed every
    :data:`TRUNCATE_EVERY` rounds (bounded plans for deep runs);
(b) a state the next round reads from two or more branches
    (``reread``), or that a probe reads, is checkpointed every round —
    lazily under a probe, whose action materializes it (q33); eagerly
    otherwise (q155: unmaterialized, each branch re-runs every round);
(c) ``probe(state)`` keys the seed and every round; the loop stops when
    a key repeats, and raises ``fail`` if it never does;
(d) the result is ``finish(state)``, eagerly checkpointed, after which
    every frame the call kept is unpersisted.
"""

from typing import Callable, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.cache import share

# rounds between lineage truncations of a state the next round reads once
TRUNCATE_EVERY = 4


def _checkpoint(df: DataFrame, eager: bool) -> DataFrame:
    return df.localCheckpoint(eager=eager)


def last_round(col: str) -> Callable[[DataFrame], object]:
    """Probe key of a state whose ``col`` is the round that added each
    row: it repeats once a round adds nothing."""
    return lambda df: df.agg(F.max(col)).first()[0]


class Iteration:
    """One operator call, used as a context manager: frames kept before
    :meth:`run` live until the call exits; frames a step keeps live
    until that round's state is materialized."""

    def __init__(self) -> None:
        self._kept: List[DataFrame] = []

    def __enter__(self) -> "Iteration":
        return self

    def __exit__(self, *exc) -> None:
        self._free(0)

    def _free(self, start: int) -> None:
        for df in self._kept[start:]:
            df.unpersist()
        del self._kept[start:]

    def keep(self, df: DataFrame) -> DataFrame:
        df = share(df)
        self._kept.append(df)
        return df

    def run(self, state: DataFrame,
            step: Callable[[DataFrame, int], DataFrame], rounds: int,
            probe: Optional[Callable[[DataFrame], object]] = None, *,
            reread: bool = False, fail: Optional[Exception] = None,
            finish: Optional[Callable[[DataFrame], DataFrame]] = None,
            ) -> DataFrame:
        call_kept = len(self._kept)
        key, converged = None, False
        if probe is not None:
            state = _checkpoint(state, eager=False)
            key = probe(state)
        for r in range(1, rounds + 1):
            state = step(state, r)
            if probe is not None:
                state = _checkpoint(state, eager=False)
                prev, key = key, probe(state)
                self._free(call_kept)
                if key == prev:
                    converged = True
                    break
            elif r < rounds and (reread or r % TRUNCATE_EVERY == 0):
                # no checkpoint after the last round: the result is one
                state = _checkpoint(state, eager=True)
                self._free(call_kept)
        if probe is not None and fail is not None and not converged:
            raise fail
        out = _checkpoint(state if finish is None else finish(state),
                          eager=True)
        self._free(call_kept)
        return out
