"""``index_lifecycle``: the persisted BM25 and positional indexes, each
built on a base slice, grown by an append batch and compacted, with
searches between the writes on the same index files, and a freshness
check.

``load_s`` is one index build (mean over the two families),
``append_p50_s`` the median of the appends and compactions, ``query_p50_s``
the median over the two search passes (after the append, after the
compaction) of the mean search or freshness-check time, ``stored_bytes``
the index directories after the append.

Checks (Python and DuckDB, never the program's own results): BM25 top-k ids
and scores equal BM25 computed in DuckDB after the append and after the
compaction, and equal a fresh build over the union; phrase hits equal a
Python scan of the corpus; compaction leaves every search unchanged.
"""

from __future__ import annotations

import json
import os
import re

import duckdb
import numpy as np

import gen
from harness import dir_bytes

K = 5
BM25_K1, BM25_B = 1.2, 0.75


def make_inputs(paths: gen.Paths, seed: int) -> None:
    """The corpus splits (gen.make_corpus) plus a seeded BM25 query (three
    vocabulary words) and a seeded phrase (two adjacent words of a base
    document, so it has at least one hit)."""
    import pyarrow.parquet as pq

    gen.make_corpus(paths, seed)
    rng = np.random.default_rng([seed, 5])
    terms = sorted({gen.WORDS[i] for i in rng.integers(0, len(gen.WORDS), 3)})
    base = pq.read_table(f"{paths.corpus()}/docs_base.parquet").column("text").to_pylist()
    words = base[int(rng.integers(0, len(base)))].split()
    j = int(rng.integers(0, len(words) - 1))
    with open(f"{paths.corpus()}/queries.json", "w") as fh:
        json.dump({"bm25": terms, "phrase": f"{words[j]} {words[j + 1]}"}, fh)


def _tokens(text: str) -> list[str]:
    return [t for t in re.split("[^a-z0-9]+", text.lower()) if t]


def _has_phrase(toks: list[str], phrase: list[str]) -> bool:
    n = len(phrase)
    return any(toks[i:i + n] == phrase for i in range(len(toks) - n + 1))


class Workload:
    def __init__(self, run, paths: gen.Paths, work: str):
        self.run = run
        self.spark = run.spark
        self.paths = paths
        self.work = work
        with open(f"{paths.corpus()}/queries.json") as fh:
            self.queries = json.load(fh)
        self.batches = [f"batch_{b}" for b in range(gen.APPEND_BATCHES)]
        self.results: dict[tuple, list] = {}  # (family, stage) -> rows
        self.stored = 0
        self.fresh = None
        self.rebuilt = None

    def _docs(self, split: str):
        return self.spark.read.parquet(f"{self.paths.corpus()}/docs_{split}.parquet")

    def _union(self):
        out = self._docs("base")
        for b in self.batches:
            out = out.unionByName(self._docs(b))
        return out

    def _terms(self):
        return self.spark.createDataFrame([(0, t) for t in self.queries["bm25"]], "query_id int, term string")

    def warm(self) -> None:
        """A BM25 build over the whole corpus (base and every batch) into a
        directory of its own: the JVM's cold start (class loading, JIT, the
        tokenizer's code generation) lands in ``setup_s``, not in the first
        timed call, and the index is the fresh build over the union that
        ``verify`` compares the appended and compacted indexes with. A
        search on it warms the search path the same way."""
        from data_warehouse_punta_fina_spark.operators.retrieval import bm25_build_index, bm25_search_index

        bm25_build_index(self._union(), self._fresh_dir())
        rows = bm25_search_index(self._terms(), self._fresh_dir(), k=K).collect()
        self.rebuilt = sorted((r["doc_id"], r["score"], r["rank"]) for r in rows)

    def _fresh_dir(self) -> str:
        return os.path.join(self.work, "bm25_fresh")

    def round(self, r: int) -> None:
        from data_warehouse_punta_fina_spark.operators.retrieval import (
            bm25_append_index,
            bm25_build_index,
            bm25_compact_index,
            bm25_index_is_fresh,
            bm25_search_index,
            phrase_search_index,
            positional_append_index,
            positional_build_index,
            positional_compact_index,
        )

        run, spark = self.run, self.spark
        root = os.path.join(self.work, f"indexes_{r}")
        bm25, bm25_c = f"{root}/bm25", f"{root}/bm25_compact"
        pos, pos_c = f"{root}/positional", f"{root}/positional_compact"
        terms = self._terms()

        def searches(stage: str, bm25_dir: str, pos_dir: str) -> None:
            with run.op("query", stage), run.call("retrieval.bm25_search"):
                rows = bm25_search_index(terms, bm25_dir, k=K).collect()
                self.results[("bm25", stage)] = sorted((r["doc_id"], r["score"], r["rank"]) for r in rows)
            with run.op("query", stage), run.call("retrieval.phrase_search"):
                rows = phrase_search_index(spark, pos_dir, self.queries["phrase"]).collect()
                self.results[("phrase", stage)] = sorted(r["doc_id"] for r in rows)

        with run.op("load", "build"), run.call("retrieval.bm25_build"):
            bm25_build_index(self._docs("base"), bm25)
        with run.op("load", "build"), run.call("retrieval.positional_build"):
            positional_build_index(self._docs("base"), pos)
        for batch in self.batches:
            with run.op("append"), run.call("retrieval.bm25_append"):
                bm25_append_index(self._docs(batch), bm25)
            with run.op("append"), run.call("retrieval.positional_append"):
                positional_append_index(self._docs(batch), pos)
        searches("appended", bm25, pos)
        with run.op("query", "appended"), run.call("freshness.check"):
            self.fresh = bm25_index_is_fresh(self._union(), bm25)
        self.stored = dir_bytes(bm25)[1] + dir_bytes(pos)[1]
        run.counts["retrieval.postings_files"] = float(dir_bytes(f"{bm25}/postings")[0])
        run.counts["retrieval.positions_files"] = float(dir_bytes(f"{pos}/positions")[0])

        with run.op("append"), run.call("retrieval.bm25_compact"):
            bm25_compact_index(spark, bm25, bm25_c)
        with run.op("append"), run.call("retrieval.positional_compact"):
            positional_compact_index(spark, pos, pos_c, corpus=self._union())
        searches("compacted", bm25_c, pos_c)

    def end_to_end(self) -> dict:
        r = self.run
        return {
            "load_s": r.pass_median("load"),
            "append_p50_s": r.pass_median("append"),
            "query_p50_s": r.pass_median("query"),
            "stored_bytes": float(self.stored),
        }

    # -- independent checks ---------------------------------------------------
    def verify(self) -> None:
        import pyarrow.parquet as pq

        run = self.run
        corpus = self.paths.corpus()
        splits = ["base", *self.batches]
        files = ", ".join(f"'{corpus}/docs_{s}.parquet'" for s in splits)
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        want = _duckdb_bm25(con, files, self.queries["bm25"])
        con.close()
        appended, compacted = self.results.get(("bm25", "appended")), self.results.get(("bm25", "compacted"))
        run.check("query.bm25_vs_duckdb", appended == want, f"bm25 after append {appended} vs duckdb {want}")
        run.check("append.bm25_compaction_unchanged", compacted == appended, f"bm25 changed by compaction: {compacted} vs {appended}")
        rebuilt = self.rebuilt
        run.check("append.bm25_vs_fresh_build", appended == rebuilt, f"bm25 appended index {appended} vs fresh build {rebuilt}")

        phrase = _tokens(self.queries["phrase"])
        hits = []
        for s in splits:
            t = pq.read_table(f"{corpus}/docs_{s}.parquet")
            hits += [i for i, text in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
                     if _has_phrase(_tokens(text), phrase)]
        got, compacted = self.results.get(("phrase", "appended")), self.results.get(("phrase", "compacted"))
        run.check("query.phrase_vs_python", got == sorted(hits), f"phrase {phrase}: {len(got or [])} hits vs python {len(hits)}")
        run.check("append.phrase_compaction_unchanged", compacted == got, "phrase hits changed by compaction")
        run.check("query.bm25_fresh", bool(self.fresh),
                  "bm25_index_is_fresh is not true for the corpus the index was built from")
        run.verified = True


def _duckdb_bm25(con, files: str, terms: list[str]) -> list[tuple]:
    """BM25 top-K in DuckDB with the program's tokenizer, idf rounded to 6
    places and per-term scores summed as DECIMAL(12,6)."""
    term_list = ", ".join(f"'{t}'" for t in terms)
    rows = con.execute(f"""
        WITH docs AS (SELECT doc_id, text FROM read_parquet([{files}])),
        toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term FROM docs),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY ALL),
        dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
        st AS (SELECT (SELECT count(*) FROM docs) AS n,
                      CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
        df AS (SELECT term, count(*) AS df FROM tf WHERE term IN ({term_list}) GROUP BY term),
        idf AS (SELECT term, floor(ln((st.n::DOUBLE - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) + 1.0::DOUBLE)
                                   * 1e6::DOUBLE + 0.5::DOUBLE) / 1e6::DOUBLE AS idf FROM df, st),
        s AS (SELECT tf.doc_id,
                     CAST(floor(idf.idf * (tf.tf::DOUBLE * {BM25_K1 + 1!r}::DOUBLE) /
                                (tf.tf::DOUBLE + {BM25_K1!r}::DOUBLE * ({1 - BM25_B!r}::DOUBLE
                                 + {BM25_B!r}::DOUBLE * dl.dl::DOUBLE / st.avgdl))
                                * 1e6::DOUBLE + 0.5::DOUBLE) / 1e6::DOUBLE AS DECIMAL(12,6)) AS s
              FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), st)
        SELECT doc_id, CAST(sum(s) AS DOUBLE) AS score FROM s GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT {K}""").fetchall()
    return sorted((d, sc, r + 1) for r, (d, sc) in enumerate(rows))
