"""Streaming continuous-aggregate sinks: fold every micro-batch into
a persisted mergeable-state table, exactly once, without ever
rescanning raw history.

``foreachBatch`` + any (aggregate, merge) pair where merge is
associative/commutative: each batch is reduced to a delta table
(O(batch rows) work) and merged into the previous generation
(O(state rows) work). Because the fold is order-independent and keyed
only by content, these sinks need NO watermark and never drop late
rows — a turn arriving a month late simply folds in, which is the
semantics corpus statistics want (contrast the windowed operators,
where lateness must be bounded to retire state).

Exactly-once under replay (Structured Streaming re-runs the last
uncommitted batch after a crash) comes from a generation protocol, the
same shape as IdempotentSink.compact()'s manifest commit:

1. write the merged state to ``gen=<batch_id>/`` (invisible — readers
   only follow the marker);
2. atomically rename ``_latest.json.tmp -> _latest.json`` recording
   the folded batch id — THE commit point;
3. delete generations older than ``keep_gens`` (idempotent cleanup).

A replayed batch id <= the marker is skipped entirely; a crash between
1 and 2 re-runs the fold from the UNMOVED previous marker and
overwrites the orphan directory. Either way every batch folds exactly
once.

:class:`FoldSink` is the general machine (bring your own
aggregate/merge — covariance stats, sketch tables, anything
mergeable); :class:`RollupSink` specializes it to the
operators.rollup count/sum/min/max/HLL/histogram state.

Scale: the state table is O(state rows), not O(input rows) — per-batch
cost is one delta aggregate plus one O(state) join-rewrite; raw
history is never touched after its batch folds.
"""

from __future__ import annotations

import logging
import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from quanta_spark.operators.rollup import rollup_aggregate, rollup_merge
from quanta_spark.sinks.idempotent import list_ids, read_marker, write_marker
from quanta_spark.streaming.engine import PROGRESS_RING


@dataclass
class FoldSink:
    """foreachBatch callable folding batches through a user-supplied
    mergeable-aggregate pair:

    - ``aggregate_fn(batch_df) -> DataFrame``: reduce one micro-batch
      to a delta state table;
    - ``merge_fn(prev_state_df, delta_df) -> DataFrame``: combine two
      state tables (must be associative + commutative so replay
      boundaries and arrival order cannot change the result).
    """

    base_dir: str
    aggregate_fn: Callable[[DataFrame], DataFrame]
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame]
    keep_gens: int = 2
    #: the bookkeeping lists keep their last PROGRESS_RING entries
    batches_folded: list[int] = field(default_factory=list)
    batches_skipped: list[int] = field(default_factory=list)
    #: (batch_id, committed_gen) pairs where the id regressed by MORE
    #: than a replay step — the fresh-checkpoint-against-old-rollup
    #: signature (logged loudly; see __call__)
    batch_id_regressions: list[tuple[int, int]] = field(default_factory=list)

    @property
    def _marker(self) -> str:
        return os.path.join(self.base_dir, "_latest.json")

    def latest_gen(self) -> int | None:
        """The committed generation, or None before the first commit.
        A malformed marker raises: treating it as "no state" would
        silently restart the fold from empty."""
        marker = read_marker(self._marker)
        return None if marker is None else int(marker["gen"])

    def _gen_dir(self, gen: int) -> str:
        return os.path.join(self.base_dir, f"gen={gen}")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        latest = self.latest_gen()
        if latest is not None and batch_id <= latest:
            if batch_id < latest:
                # A legitimate crash-replay re-delivers at most the LAST
                # uncommitted batch (id == latest); an id strictly below
                # it usually means the stream was restarted with a
                # FRESH/deleted checkpoint while base_dir kept the old
                # generations — every batch would then be silently
                # skipped and the rollup frozen (ADVICE r06). Keep the
                # exactly-once no-op contract but make the regression
                # LOUD and observable.
                logging.getLogger(__name__).warning(
                    "FoldSink at %s: batch_id %d is behind the committed "
                    "generation %d by more than a replay step — if the "
                    "query was restarted with a fresh checkpoint against "
                    "an existing rollup, every batch will be skipped. "
                    "Restore the original checkpoint or use a clean "
                    "base_dir.",
                    self.base_dir, batch_id, latest,
                )
                self.batch_id_regressions.append((batch_id, latest))
                del self.batch_id_regressions[:-PROGRESS_RING]
            # replay of an already-folded batch: exactly-once no-op
            self.batches_skipped.append(batch_id)
            del self.batches_skipped[:-PROGRESS_RING]
            return
        spark = batch_df.sparkSession
        state = self.aggregate_fn(batch_df)
        if latest is not None:
            prev = spark.read.parquet(self._gen_dir(latest))
            state = self.merge_fn(prev, state)
        state.write.mode("overwrite").parquet(self._gen_dir(batch_id))
        os.makedirs(self.base_dir, exist_ok=True)
        write_marker(self._marker, {"gen": batch_id})  # commit point (atomic rename)
        self.batches_folded.append(batch_id)
        del self.batches_folded[:-PROGRESS_RING]
        kept = {batch_id, latest} if latest is not None else {batch_id}
        for g in list_ids(self.base_dir, "gen"):
            if g not in kept and g <= batch_id - self.keep_gens:
                shutil.rmtree(self._gen_dir(g), ignore_errors=True)

    def read_state(self, spark: SparkSession) -> DataFrame:
        """The committed state (latest published generation)."""
        gen = self.latest_gen()
        if gen is None:
            raise FileNotFoundError(f"no committed state under {self.base_dir}")
        return spark.read.parquet(self._gen_dir(gen))

    def generations(self) -> list[int]:
        """Retained generation ids (ascending) — the time-travel
        surface, same contract as IdempotentSink.snapshots(): raise
        ``keep_gens`` to retain deeper history."""
        return list_ids(self.base_dir, "gen")

    def read_state_as_of(self, spark: SparkSession, gen: int) -> DataFrame:
        """The state as of a RETAINED generation (time travel)."""
        if gen not in self.generations():
            raise FileNotFoundError(
                f"generation {gen} not retained under {self.base_dir} "
                f"(have {self.generations()}; raise keep_gens to keep more)"
            )
        return spark.read.parquet(self._gen_dir(gen))


@dataclass
class RollupSink(FoldSink):
    """FoldSink specialized to the operators.rollup mergeable state
    (count / fixed-point sum / min / max, optional HLL distinct and
    per-group histogram) grouped by ``keys`` over ``value_col``."""

    aggregate_fn: Callable[[DataFrame], DataFrame] | None = None
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame] | None = None
    keys: tuple[str, ...] = ("role",)
    value_col: str = "value"
    distinct_col: str | None = None
    #: (lo, hi, n_bins) — maintain a mergeable per-group histogram so
    #: quanta_contrib.operators.rollup.rollup_quantiles answers live
    #: percentiles off the rollup
    hist: tuple[int, int, int] | None = None

    def __post_init__(self) -> None:
        if self.aggregate_fn is None:
            self.aggregate_fn = lambda df: rollup_aggregate(
                df,
                list(self.keys),
                self.value_col,
                distinct_col=self.distinct_col,
                hist=self.hist,
            )
        if self.merge_fn is None:
            self.merge_fn = rollup_merge

    def read_rollup(self, spark: SparkSession) -> DataFrame:
        """The committed rollup (latest published generation)."""
        return self.read_state(spark)
