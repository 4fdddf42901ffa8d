"""Output checks: order-independent result digests, F1 against planted
gold, and the digests pinned for the default seed."""

from __future__ import annotations

import pyarrow.dataset as ds

DEFAULT_SEED = 0

# The paper's quality bar for span and triple F1 on any seed.
F1_BAR = 0.95


def digest(df) -> str:
    """Order-independent digest of a DataFrame's rows: the row count and the
    sum of one 64-bit hash per row, both computed by one Spark aggregate.
    Running it is the action that consumes an operator's lazy result."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h'] if row['h'] is not None else 0}"


def f1(pred: set, gold: set) -> float:
    """Micro F1 with set semantics (operators.evaluation.micro_prf)."""
    tp = len(pred & gold)
    if not pred or not gold or not tp:
        return 0.0
    p, r = tp / len(pred), tp / len(gold)
    return 2 * p * r / (p + r)


def _rows(base: str, table: str, cols) -> set:
    t = ds.dataset(f"{base}/{table}", format="parquet", partitioning="hive")
    return set(zip(*(c.to_pylist() for c in t.to_table(columns=cols).columns)))


def span_f1(base: str, gold) -> float:
    """Span F1 of a base's `mentions` table on (doc_id, label, start, end)."""
    return f1(_rows(base, "mentions", ["doc_id", "label", "start", "end"]), gold.mentions)


def triple_f1(base: str, gold) -> float:
    """Triple F1 of a base's surface-form `triples_raw` table on
    (doc_id, subj, pred, obj)."""
    return f1(_rows(base, "triples_raw", ["doc_id", "subj", "pred", "obj"]), gold.triples)


class Checks:
    """Collects named check outcomes; a run is correct only if all pass."""

    def __init__(self):
        self.failures: list[str] = []
        self.seen: dict[str, str] = {}

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)

    def same(self, key: str, value: str, pinned: str | None = None) -> None:
        """`value` must equal every earlier value under `key` in this run
        and, when given, the pinned value."""
        first = self.seen.setdefault(key, value)
        self.expect(first == value, f"{key}: {value} differs from an earlier repetition {first}")
        if pinned is not None:
            self.expect(value == pinned, f"{key}: {value} differs from the pinned {pinned}")

    @property
    def ok(self) -> bool:
        return not self.failures
