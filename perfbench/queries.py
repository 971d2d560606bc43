"""Query-suite workloads: one unit is one pass over a list of registered
queries, each built by its registry function, collected, and followed by
``release_session_storage`` (as ``bench.py`` runs them).

The input is made from the seed: a ``documents`` corpus drawn from the
same 30-word vocabulary, length range and language mix as the synthetic
test tables, with a share of planted near-duplicates.
"""

from __future__ import annotations

import sys
import traceback
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.workload import Workload

#: three eager-phase queries (guard collects, loop rounds and checkpoints
#: while the DataFrame is built), then an execution-heavy one.
#: knn_label_disagreement_lsh is left out: with its oracle it adds ~9 s to a
#: run, which the benchmark's time budget cannot hold (README.md)
LLM_CURATION = (
    "near_dup_clusters_star",
    "minhash_lsh_near_dups",
    "bpe_encoded_corpus_stats",
    "token_pmi_pairs",
)

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
N_SOURCES = 20
DUP_SHARE = 0.05


def make_corpus(data: Path, seed: int, n_docs: int) -> None:
    """Write ``documents.parquet`` under ``data``."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for _ in range(n_docs):
        if texts and rng.random() < DUP_SHARE:
            words = texts[rng.integers(len(texts))].split()
            words[rng.integers(len(words))] = VOCAB[rng.integers(len(VOCAB))]
            texts.append(" ".join(words + ["dup"]))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[i] for i in rng.integers(len(VOCAB), size=n)))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), size=n_docs, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    data.mkdir(parents=True, exist_ok=True)
    pq.write_table(docs, data / "documents.parquet")


class QuerySuite(Workload):
    def __init__(self, queries: tuple[str, ...], spark, work: Path,
                 seed: int, n_docs: int, tracer) -> None:
        self.queries = queries
        self.spark, self.data, self.seed = spark, work / "data", seed
        self.n_docs = n_docs
        self.tracer = tracer
        self.ops_per_unit = len(queries)
        #: (unit, query) -> (columns, rows) of every collected result
        self.outputs: dict[tuple[int, str], tuple[list, list]] = {}

    def generate(self) -> None:
        make_corpus(self.data, self.seed, self.n_docs)

    def unit(self, k: int) -> int:
        """One pass over the suite; returns the number of failed queries."""
        from autonomous_orchestrator_ai_spark.plans import registry
        from autonomous_orchestrator_ai_spark.session import release_session_storage

        registry.load_all()
        t, failed = self.tracer, 0
        for q in self.queries:
            try:
                with t.span(f"plans.{q}.build", unit=k):
                    df = registry.QUERIES[q](self.spark, str(self.data))
                with t.span(f"plans.{q}.exec", unit=k):
                    rows = df.collect()
                self.outputs[(k, q)] = (df.columns, [tuple(r) for r in rows])
            except Exception:  # one failed query must not end the pass
                traceback.print_exc(file=sys.stderr)
                failed += 1
            if t.enabled:
                with t.span(f"storage.{q}.persisted", unit=k) as rec:
                    rec["persisted_bytes"] = self._persisted_bytes()
            with t.span(f"session.{q}.release", unit=k) as rec:
                rec["rdds_released"] = release_session_storage(self.spark)
        return failed

    def _persisted_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def check(self) -> list[str]:
        """Compare every collected result with the query's DuckDB oracle."""
        from autonomous_orchestrator_ai_spark.plans import registry
        from tools.check_oracle import frame_to_rows

        con = duckdb.connect()
        for p in sorted(self.data.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
        want = {}
        for q in self.queries:
            cur = con.execute(registry.resolve_oracle(q, str(self.data)))
            want[q] = frame_to_rows([d[0] for d in cur.description], cur.fetchall())
        problems = []
        for (k, q), (cols, rows) in sorted(self.outputs.items()):
            got = frame_to_rows(cols, rows)
            if got != want[q]:
                problems.append(
                    f"unit {k} {q}: {len(got[1])} rows differ from the oracle's "
                    f"{len(want[q][1])}"
                )
        return problems
