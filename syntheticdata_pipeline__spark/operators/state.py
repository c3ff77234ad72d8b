"""Parquet-backed state/resume manager (SURVEY.md §4 custom component #1).

Replaces the reference's whole-set-in-memory, whole-JSON-flush progress
checkpoints (any_scraper.py:85-116, test_kimono_ec2.py:317-414) with an
append-only parquet state table + periodic compaction:

- ``append``  — record newly processed keys (idempotent by design: dedup
  happens at read).
- ``filter_new`` — anti-join incoming work against the state (J3/R2/R3).
- ``compact`` — rewrite the accumulated appends as one deduped snapshot.

At 100 TB the state table is itself big; ``filter_new`` is a shuffled
anti join on the key (broadcast when small), and compaction bounds the
file count — the reference's unbounded in-memory set simply can't scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import path_exists, swap_in_parquet


class StateTable:
    """Append-only processed-keys table with snapshot compaction.

    ``value_cols`` optionally carries payload columns alongside the keys
    (e.g. the minhash signature per doc id for incremental dedup state);
    dedup across appends stays keyed on ``key_cols``, which is sound when
    the payload is functionally determined by the key (same id ⇒ same
    signature)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        value_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key_cols = key_cols
        self.value_cols = list(value_cols or [])

    def _cols(self) -> list[str]:
        return [*self.key_cols, *self.value_cols]

    # -- reads ---------------------------------------------------------------
    def exists(self) -> bool:
        return path_exists(self.spark, self.path)

    def load(self) -> DataFrame:
        """Current state keys (+ payload), deduped across appends."""
        if not self.exists():
            if self.value_cols:
                raise ValueError(
                    "empty state table with value columns has no inferable "
                    "schema; call exists() before load()"
                )
            schema = ", ".join(f"{c} string" for c in self.key_cols)
            return self.spark.createDataFrame([], schema=schema)
        return self.spark.read.parquet(self.path).select(*self._cols()).dropDuplicates(
            self.key_cols
        )

    def count(self) -> int:
        """A11 state-size counter (len(scraped_urls), test_kimono_ec2.py:358)."""
        return self.load().count()

    # -- writes ----------------------------------------------------------------
    def append(self, done: DataFrame) -> None:
        """Flush a batch of processed keys (K5 checkpoint cadence becomes
        one append per micro-batch instead of a full-set rewrite)."""
        done.select(*self._cols()).dropDuplicates(self.key_cols).write.mode("append").parquet(
            self.path
        )

    def compact(self) -> None:
        """Rewrite accumulated appends as a single deduped snapshot,
        committed by ``swap_in_parquet``: a failed write leaves the
        appends as they were."""
        if not self.exists():
            return
        snapshot = self.load()
        swap_in_parquet(
            snapshot.coalesce(max(1, snapshot.rdd.getNumPartitions() // 8)), self.path
        )

    # -- the resume operator -----------------------------------------------------
    def filter_new(self, work: DataFrame) -> DataFrame:
        """R2/J3: keep only work items whose keys are not yet in the state."""
        if not self.exists():
            return work
        return work.join(self.load(), on=self.key_cols, how="left_anti")


def incremental_transition_counts(
    chunk: DataFrame,
    last_state: DataFrame | None,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts_us",
    id_col: str = "event_id",
) -> tuple[DataFrame, DataFrame]:
    """Markov transition counts over an event stream ingested in
    time-ordered chunks: within-chunk (prev → next) pairs from a per-user
    lag, PLUS the boundary transition from each user's last event of the
    previous chunks (the state) into their first event of this chunk.

    Precondition (like incremental_minhash_dedup's monotone ids): chunks
    arrive in event-time order per user — every row in the state is
    earlier than every row of the chunk for that user. Under it the
    operator is associative: any chunking sums to the one-shot lag
    counts (tests/test_round6_analytics.py proves chunked == batch).

    Returns ``(counts, new_state)``: counts is (from_type, to_type, n)
    for THIS chunk (merge across chunks by summing — counts are a
    monoid); new_state is one (user, type, ts, id) row per user seen so
    far, the O(users) rollup state a 100 TB stream keeps instead of its
    history.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    seq = chunk.withColumn("__prev", F.lag(type_col).over(w))
    within = (
        seq.filter(F.col("__prev").isNotNull())
        .groupBy(F.col("__prev").alias("from_type"), F.col(type_col).alias("to_type"))
        .agg(F.count("*").alias("n"))
    )
    firsts = (
        chunk.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(user_col, F.col(type_col).alias("__first_type"))
    )
    chunk_last = (
        chunk.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(user_col).orderBy(
                    F.col(ts_col).desc(), F.col(id_col).desc()
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .select(user_col, type_col, ts_col, id_col)
    )
    if last_state is None or not last_state.columns:
        return within, chunk_last
    # Null-safe stitching: the batch twin (event_transition_matrix)
    # partitions NULL users into ONE real group, so the NULL user's
    # boundary transition must join too and its state row must be
    # replaced, not carried — a plain equi/anti join on the user key
    # silently drops both (NULL never equals NULL), losing cross-chunk
    # NULL-user transitions and accumulating one stale NULL state row
    # per chunk (found by tests/test_state_adversarial.py).
    ls = last_state.select(
        F.col(user_col).alias("__state_user"), F.col(type_col).alias("__last_type")
    )
    boundary = (
        ls.join(firsts, F.col("__state_user").eqNullSafe(F.col(user_col)))
        .groupBy(
            F.col("__last_type").alias("from_type"),
            F.col("__first_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    counts = (
        within.unionByName(boundary)
        .groupBy("from_type", "to_type")
        .agg(F.sum("n").alias("n"))
    )
    # users absent from this chunk keep their old state row
    carried = last_state.join(
        chunk_last.select(F.col(user_col).alias("__chunk_user")),
        F.col(user_col).eqNullSafe(F.col("__chunk_user")),
        "left_anti",
    )
    return counts, carried.unionByName(chunk_last)
