"""Seeded input generators for the benchmark.

Everything here is a pure function of (seed, sizes): the same seed writes
byte-identical inputs. The program only ever sees the files written here;
the gold mentions and triples stay on the benchmark's side.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gliner_spark.sources import vocab
from gliner_spark.sources.synth import gen_doc

# the docs table schema the program's reader expects (sources.readers.DOCS_DDL)
DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("offset", pa.int32()),
                    ]
                )
            ),
        ),
    ]
)

# the materialized triples table's schema (sinks.materialize, `triples`)
TRIPLES_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("subj", pa.string()),
        ("pred", pa.string()),
        ("obj", pa.string()),
        ("subj_type", pa.string()),
        ("obj_type", pa.string()),
        ("score", pa.float64()),
    ]
)


class Gold:
    """Planted gold of a corpus, keyed the way the evaluator keys it:
    spans on (doc_id, label, start, end), triples on (doc_id, subj, pred,
    obj)."""

    def __init__(self):
        self.mentions: set = set()
        self.triples: set = set()


def write_corpus(path: str, seed: int, start: int, n_docs: int) -> Gold:
    """Write docs [start, start + n_docs) of the seeded synthetic corpus to
    one parquet file; return their gold."""
    gold = Gold()
    rows = []
    for i in range(start, start + n_docs):
        d = gen_doc(i, seed)
        doc_id = d["doc_id"]
        rows.append({"doc_id": doc_id, "spans": d["spans"]})
        for m in d["gold_mentions"]:
            gold.mentions.add((doc_id, m["label"], m["start"], m["end"]))
        for t in d["gold_triples"]:
            gold.triples.add((doc_id, t["subj"], t["pred"], t["obj"]))
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCS_SCHEMA), path)
    return gold


def zipf_triples(
    seed: int, min_edges: int, n_nodes: int = 120_000, a: float = 0.9,
    chunk: int = 50_000,
) -> pa.Table:
    """A triples table whose distinct UNDIRECTED non-loop edge count is just
    at or above `min_edges` (so the directed count is too).

    Endpoints are Zipf(a)-distributed over `n_nodes` ids, so hubs, duplicate
    rows and reciprocal pairs all occur. Rows are drawn in chunks until the
    distinct-edge target is met, which makes the size a property of the
    generated graph, not of a setting in the program."""
    rng = np.random.default_rng([seed, 0x6B67])
    w = 1.0 / np.arange(1, n_nodes + 1, dtype=np.float64) ** a
    cdf = np.cumsum(w) / w.sum()
    scatter = rng.permutation(n_nodes)  # hubs get unrelated ids
    src_parts, dst_parts = [], []
    keys = np.empty(0, dtype=np.int64)
    while keys.size < min_edges:
        s = scatter[np.minimum(np.searchsorted(cdf, rng.random(chunk)), n_nodes - 1)]
        o = scatter[np.minimum(np.searchsorted(cdf, rng.random(chunk)), n_nodes - 1)]
        src_parts.append(s)
        dst_parts.append(o)
        lo, hi = np.minimum(s, o), np.maximum(s, o)
        k = lo.astype(np.int64) * n_nodes + hi
        keys = np.unique(np.concatenate([keys, k[s != o]]))
    src = np.concatenate(src_parts)
    dst = np.concatenate(dst_parts)
    n = src.size
    types = list(vocab.GAZETTEER)
    preds = list(vocab.RELATION_PATTERNS)
    node_type = rng.integers(0, len(types), n_nodes)
    ids = pa.array([f"ent:{i:06d}" for i in range(n_nodes)])
    type_names = pa.array(types)
    pred_names = pa.array(preds)
    return pa.table(
        {
            "doc_id": pa.array([f"zdoc-{i // 4:07d}" for i in range(n)]),
            "subj": ids.take(pa.array(src)),
            "pred": pred_names.take(pa.array(rng.integers(0, len(preds), n))),
            "obj": ids.take(pa.array(dst)),
            "subj_type": type_names.take(pa.array(node_type[src])),
            "obj_type": type_names.take(pa.array(node_type[dst])),
            "score": pa.array(rng.random(n)),
        },
        schema=TRIPLES_SCHEMA,
    )


def write_zipf_triples(path: str, seed: int, min_edges: int) -> None:
    """Write zipf_triples(seed, min_edges) to `path`."""
    pq.write_table(zipf_triples(seed, min_edges), path)
