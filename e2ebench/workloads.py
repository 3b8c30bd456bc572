"""The closed-loop workloads (one client each).

Every op calls only the engine's public functions: the query registry
(``insight_spark.queries``), ``sources.sinks``, ``operators.dedup`` /
``components`` / ``manifest``, ``streaming.core`` and ``pipelines``.
Queries are rebuilt fresh per op, as a client would issue them.  Each
op's expected result comes from DuckDB -- for the Jaccard join, DuckDB's
tokens and a brute-force all-pairs count; for connected components, a
union-find over those pairs -- and is computed before timing starts.

A workload object offers ``inputs()`` (seeded inputs and oracle, no
Spark), ``pass_ops(i)`` (the fixed op multiset of pass ``i`` in seeded
order, expectations included; all passes are planned before the session
starts), ``prepare(spark)`` (engine-side set-up) and ``close()``.
"""

from __future__ import annotations

import decimal
import os
import random
import shutil
import statistics
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

import gen
import oracle

#: The BASELINE.md headline queries, in BASELINE.md order.
HEADLINE = (
    "scan_filter_agg", "groupby_agg", "join_star", "join_fact_agg",
    "window_rank", "topk", "distinct_exact_approx", "sessionize",
    "json_extract_agg", "tokenize_wordcount", "dedup_hash", "knn_cosine_topk",
)

#: Input sizes and stated generator parameters, per workload.  The
#: ingest_serve mix and its Zipf(1.1) read-key skew are assumptions, not
#: measurements (see notes.json ``assumptions``).
SIZES = {
    "etl_batch": {"sf": 0.01, "n_vecs": 500, "jaccard": [9, 10],
                  "corpus": {"n_docs": 500, "dup_frac": 0.05}},
    "ingest_serve": {"n_docs": 2000, "n_users": 60, "key_zipf": 1.1,
                     "chunk_rows": 2000, "backlog_chunks": 2, "backlog_rows": 500,
                     "base_rows": 4000, "append_rows": 500,
                     "mix": {"term": 8, "suggest": 4, "snapshot": 4,
                             "ingest": 1, "append": 1, "replay": 1}},
}


@dataclass
class Op:
    kind: str
    layer: str
    run: Callable[[Any], Any]     # run(tracer) -> result
    check: Callable[[Any], bool]  # check(result) -> correct?


class Workload:
    name = ""
    #: nominal pass wall, only used to turn ``--seconds`` into a fixed
    #: timed-pass count (never measured at run time).
    nominal_pass_s = 5.0

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.data = os.path.join(work, "data")
        self.spark = self.con = None

    def inputs(self) -> None:
        """Generate the seeded inputs and the expected results (no Spark)."""
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Engine-side preparation, part of the measured set-up."""
        self.spark = spark

    def pass_ops(self, i: int) -> list[Op]:
        """Plan pass ``i``; called for passes 0, 1, ... in order, before
        the session starts.  The ops run later, against ``self.spark``."""
        raise NotImplementedError

    def traced_extras(self, tracer) -> dict[str, float]:
        """Per-layer values only this workload can give (traced run)."""
        return {}

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


def _frame_op(kind: str, layer: str, build: Callable[[], Any], expected) -> Op:
    """An op that builds a DataFrame fresh, pulls it with ``toPandas()``
    and compares the rows with the oracle's."""
    def run(tr):
        with tr.span(f"{layer}.build"):
            df = build()
        with tr.span("action"):
            pdf = df.toPandas()
        tr.note_df(df)
        return pdf

    return Op(kind, layer, run, lambda pdf: oracle.same(pdf, expected))


def union_find_canonical(ids, pairs) -> pd.DataFrame:
    """(doc_id, canonical_id = min id of its component) for every id."""
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return pd.DataFrame({"doc_id": list(parent), "canonical_id": [find(i) for i in parent]})


def jaccard_pairs(con, num: int, den: int) -> pd.DataFrame:
    """All-pairs token-set Jaccard >= num/den, brute force: DuckDB
    tokenizes, a dense doc x token matrix product counts every pair's
    intersection exactly (float32 holds these small integers exactly)."""
    toks = oracle.query(con, r"""
        SELECT doc_id, unnest(list_distinct(list_filter(
            string_split_regex(text, '\s+'), t -> t <> ''))) AS tok
        FROM documents""")
    codes, uniq = toks.tok.factorize()
    ids = toks.doc_id.to_numpy()
    x = np.zeros((int(ids.max()) + 1, len(uniq)), np.float32)
    x[ids, codes] = 1
    inter = x @ x.T
    size = x.sum(axis=1)
    a, b = np.nonzero(np.triu(inter, 1))
    i = inter[a, b].astype(np.int64)
    u = size[a].astype(np.int64) + size[b].astype(np.int64) - i
    keep = den * i >= num * u
    a, b, i, u = a[keep], b[keep], i[keep], u[keep]
    # Spark's round(): HALF_UP on the double's exact binary value
    sim = [float(decimal.Decimal(float(x) / float(y)).quantize(
        decimal.Decimal("1e-6"), decimal.ROUND_HALF_UP)) for x, y in zip(i, u)]
    return pd.DataFrame({"a_id": a.astype(np.int64), "b_id": b.astype(np.int64),
                         "jaccard_sim": sim})


class EtlBatch(Workload):
    """Per pass: the 12 headline queries, the near-dup funnel over the
    same documents table, and one search-index publish of it.

    The funnel's exact stage is the headline ``dedup_hash`` query (it is
    ``exact_dedup``); ``minhash_lsh_pairs_md5``,
    ``prefix_filtered_jaccard_join`` and ``canonical_assignment`` are
    called directly.  ``canonical_assignment`` reads the oracle's pair
    list, so that op measures the components layer alone."""

    name = "etl_batch"
    nominal_pass_s = 13.0

    def inputs(self) -> None:
        from insight_spark.operators.dedup import minhash_lsh_pairs_md5_oracle_sql
        from insight_spark.queries import all_oracle_sql

        p = SIZES[self.name]
        self.num, self.den = p["jaccard"]
        self.sf_dir = gen.write_fixture_dir(
            self.data, self.seed, p["sf"], p["n_vecs"], p["corpus"])
        self.docs_path = os.path.join(self.sf_dir, "documents.parquet")
        sql = all_oracle_sql()
        self.con = con = oracle.connect(oracle.fixture_views(self.sf_dir))
        self.expected = {n: oracle.canonical(oracle.query(con, sql[n])) for n in HEADLINE}
        self.n_terms = con.execute(
            r"SELECT count(DISTINCT t) FROM (SELECT unnest(list_filter("
            r"string_split_regex(text, '\s+'), x -> x <> '')) AS t FROM documents)"
        ).fetchone()[0]
        self.n_docs = p["corpus"]["n_docs"]
        self.exp_lsh = oracle.canonical(oracle.query(con, minhash_lsh_pairs_md5_oracle_sql()))
        jac = jaccard_pairs(con, self.num, self.den)
        self.exp_jaccard = oracle.canonical(jac)
        self.pairs_path = os.path.join(self.data, "pairs.parquet")
        jac[["a_id", "b_id"]].to_parquet(self.pairs_path, index=False)
        self.exp_cc = oracle.canonical(union_find_canonical(
            range(self.n_docs), jac[["a_id", "b_id"]].itertuples(index=False)))
        self.index_dir = os.path.join(self.work, "index")

    def prepare(self, spark) -> None:
        from insight_spark.queries import all_queries

        super().prepare(spark)
        self.queries = all_queries()

    def _docs(self):
        from insight_spark.sources import load_table

        return load_table(self.spark, self.sf_dir, "documents")

    def _publish_op(self) -> Op:
        from insight_spark.sources.sinks import write_search_index

        def run(tr):
            with tr.span("sinks.publish"):
                return write_search_index(self.spark, self._docs(), self.index_dir)

        def check(tables) -> bool:
            counts = self.spark.sql(
                f"SELECT (SELECT count(*) FROM {tables['docs']}) AS d,"
                f" (SELECT count(*) FROM {tables['postings']}) AS p,"
                f" (SELECT count(*) FROM {tables['suggest']}) AS s").collect()[0]
            return tuple(counts) == (self.n_docs, self.n_terms, self.n_terms)

        return Op("publish", "sinks", run, check)

    def pass_ops(self, i: int) -> list[Op]:
        from insight_spark.operators.components import canonical_assignment
        from insight_spark.operators.dedup import (
            minhash_lsh_pairs_md5, prefix_filtered_jaccard_join)

        ops = [_frame_op(n, "queries", lambda n=n: self.queries[n](self.spark, self.sf_dir),
                         self.expected[n]) for n in HEADLINE]
        ops += [
            _frame_op("lsh", "dedup", lambda: minhash_lsh_pairs_md5(self._docs()),
                      self.exp_lsh),
            _frame_op("jaccard", "dedup", lambda: prefix_filtered_jaccard_join(
                self._docs(), self.num, self.den), self.exp_jaccard),
            _frame_op("cc", "components", lambda: canonical_assignment(
                self.spark.read.parquet(self.pairs_path), self._docs().select("doc_id")),
                self.exp_cc),
        ]
        return ops + [self._publish_op()]

    def traced_extras(self, tracer) -> dict[str, float]:
        """Pair counts of the traced ops, and LSH precision (verified
        pairs over candidates) from one untimed ``keep_all`` probe."""
        from insight_spark.operators.dedup import minhash_lsh_pairs_md5

        def rows(kind):
            v = [o["rows"] for o in tracer.ops.values()
                 if o["kind"] == kind and o["phase"] == "timed"]
            return float(statistics.median(v)) if v else 0.0

        cand = minhash_lsh_pairs_md5(
            self.spark.read.parquet(self.docs_path), keep_all=True).toPandas()
        return {"dedup.lsh_pairs": rows("lsh"), "dedup.jaccard_pairs": rows("jaccard"),
                "dedup.lsh_precision": float(cand.is_dup.sum()) / max(1, len(cand))}


class IngestServe(Workload):
    """Zipf-keyed serving reads beside ingest / append / replay writes.
    Table state grows with every pass, identically in every run: the
    pass count is fixed and never depends on timing."""

    name = "ingest_serve"
    nominal_pass_s = 9.0

    def inputs(self) -> None:
        p = self.p = SIZES[self.name]
        self.docs_path = gen.write_table(
            gen.corpus_table(self.seed, p["n_docs"]),
            os.path.join(self.data, "documents.parquet"))
        self.backlog = os.path.join(self.data, "backlog")
        backlog = gen.write_event_chunks(self.backlog, self.seed, p["backlog_chunks"],
                                         p["backlog_rows"], p["n_users"], "backlog")
        self.base = gen.write_table(
            gen.events_table(self.seed, p["base_rows"], p["n_users"], name="base"),
            os.path.join(self.data, "base.parquet"))
        self.con = oracle.connect({"documents": self.docs_path})
        # read keys: Zipf over the vocabulary in a seeded popularity order
        self.words = list(np.random.default_rng(self.seed).permutation(gen.WORDS))
        # suggest_lookup takes prefixes of >= 2 chars: its keys skip "a"
        self.stems = [t for t in self.words if len(t) >= 2]
        self.post_df = oracle.query(self.con, r"""
            SELECT term, list_sort(list(doc_id)) AS posting, count(*) AS df
            FROM (SELECT DISTINCT doc_id, unnest(list_filter(
                      string_split_regex(text, '\s+'), x -> x <> '')) AS term
                  FROM documents) GROUP BY term""")
        self.postings = {t: g for t, g in self.post_df.groupby("term")}
        self.backlog_expected = self._user_totals(backlog)
        self.rng = random.Random(self.seed)
        self.landing = os.path.join(self.work, "landing")
        self.topic = os.path.join(self.work, "topic")
        self.serving = os.path.join(self.work, "serving")
        self.table_dir = os.path.join(self.work, "manifest_table")
        self.manifest_files = [self.base]
        self.landed: list[str] = []  # planned landing order
        self.traced_in_bytes = 0

    def prepare(self, spark) -> None:
        """Publish the index, seed the manifest table, and start the
        long-running ingest query over an empty topic."""
        from insight_spark.operators.manifest import log_append
        from insight_spark.pipelines import streaming_ingest
        from insight_spark.sources.sinks import write_search_index

        super().prepare(spark)
        self.tables = write_search_index(
            spark, spark.read.parquet(self.docs_path), os.path.join(self.work, "index"))
        log_append(spark.read.parquet(self.base), self.table_dir)
        os.makedirs(self.topic)
        self.stream = streaming_ingest(
            spark, self.topic, self.serving, os.path.join(self.work, "ingest_ckpt"))

    def _user_totals(self, files: list[str]) -> pd.DataFrame:
        lst = ", ".join(f"'{f}'" for f in files)
        return oracle.query(self.con, f"""
            SELECT user_id, count(*) AS n_events, sum(value) AS sum_value
            FROM read_parquet([{lst}]) GROUP BY user_id""")

    def _events(self, rows: int, tag: str, ts_day: int) -> str:
        start = gen.EPOCH_2024_US + ts_day * gen.DAY_US
        return gen.write_event_chunks(self.landing, self.seed, 1, rows,
                                      self.p["n_users"], tag, start_us=start)[0]

    def pass_ops(self, i: int) -> list[Op]:
        mix, rng = self.p["mix"], self.rng
        kinds = [k for k, n in mix.items() for _ in range(n)]
        rng.shuffle(kinds)
        nrng = np.random.default_rng(rng.randrange(1 << 30))
        ops = []

        def zipf_key(keys):
            return keys[gen.zipf_ids(nrng, len(keys), 1, self.p["key_zipf"])[0]]

        # expectations are built in op order: a snapshot read expects
        # exactly the appends placed before it
        for j, kind in enumerate(kinds):
            tag = f"{i}_{j}"
            if kind == "term":
                ops.append(self._term_op(str(zipf_key(self.words))))
            elif kind == "suggest":
                ops.append(self._suggest_op(str(zipf_key(self.stems))[:2]))
            elif kind == "snapshot":
                ops.append(self._snapshot_op(int(zipf_key(range(self.p["n_users"])))))
            elif kind == "append":
                ops.append(self._append_op(
                    self._events(self.p["append_rows"], f"append{tag}", 40 + i)))
            elif kind == "ingest":
                ops.append(self._ingest_op(
                    self._events(self.p["chunk_rows"], f"chunk{tag}", i)))
            else:
                ops.append(self._replay_op(tag))
        return ops

    def _term_op(self, term: str) -> Op:
        from insight_spark.sources.sinks import search_term_lookup

        g = self.postings.get(term)
        exp = oracle.canonical(g) if g is not None else (("df", "posting", "term"), [])
        return _frame_op("term", "sinks", lambda: search_term_lookup(
            self.spark, self.tables["postings"], term), exp)

    def _suggest_op(self, prefix: str) -> Op:
        from insight_spark.sources.sinks import suggest_lookup

        m = self.post_df[self.post_df.term.str.startswith(prefix)]
        m = m.sort_values(["df", "term"], ascending=[False, True]).head(10)
        return _frame_op("suggest", "sinks", lambda: suggest_lookup(
            self.spark, self.tables["suggest"], prefix), oracle.canonical(m[["term", "df"]]))

    def _snapshot_op(self, user: int) -> Op:
        from insight_spark.operators.manifest import read_snapshot

        lst = ", ".join(f"'{f}'" for f in self.manifest_files)
        exp = oracle.canonical(oracle.query(
            self.con, f"SELECT * FROM read_parquet([{lst}]) WHERE user_id = {user}"))
        return _frame_op("snapshot", "manifest", lambda: read_snapshot(
            self.spark, self.table_dir).filter(f"user_id = {user}"), exp)

    def _append_op(self, path: str) -> Op:
        from insight_spark.operators.manifest import log_append

        self.manifest_files.append(path)
        want = len(self.manifest_files)

        def run(tr):
            with tr.span("manifest.commit"):
                return log_append(self.spark.read.parquet(path), self.table_dir)
        return Op("append", "manifest", run, lambda v: v == want)

    def _replay_op(self, tag: str) -> Op:
        from insight_spark.streaming.core import (
            read_events_stream, run_stream_to_memory, user_totals_stateful)

        name = f"replay_{tag}"
        ckpt = os.path.join(self.work, f"replay_ckpt_{tag}")

        def run(tr):
            spark = self.spark
            with tr.span("stream.drain"):
                out = run_stream_to_memory(
                    spark, user_totals_stateful(read_events_stream(spark, self.backlog)),
                    name, ckpt, output_mode="update")
            with tr.span("action"):
                pdf = out.toPandas()
            spark.catalog.dropTempView(name)
            return pdf
        return Op("replay", "streaming", run, self._replay_check)

    def _ingest_op(self, path: str) -> Op:
        """Land one chunk on the topic and wait until the long-running
        ``streaming_ingest`` query has committed it to serving; the check
        reads the serving table back against the hourly rollup of every
        chunk landed so far."""
        self.landed.append(path)
        lst = ", ".join(f"'{f}'" for f in self.landed)
        exp = oracle.canonical(oracle.query(self.con, f"""
            SELECT date_trunc('hour', ts) AS window_start,
                   event_type, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS sum_value
            FROM read_parquet([{lst}]) GROUP BY ALL"""))

        def run(tr):
            with tr.span("stream.ingest"):
                dest = os.path.join(self.topic, os.path.basename(path))
                tmp = os.path.join(self.topic, "." + os.path.basename(path))
                shutil.copyfile(path, tmp)  # hidden until the rename
                os.replace(tmp, dest)  # the chunk lands atomically
                self.stream.processAllAvailable()
            if tr.enabled:
                self.traced_in_bytes += os.path.getsize(path)

        def check(_) -> bool:
            serving = os.path.join(self.serving, "serving")
            return oracle.same(self.spark.read.parquet(serving).toPandas(), exp)

        return Op("ingest", "streaming", run, check)

    def _replay_check(self, pdf: pd.DataFrame) -> bool:
        last = pdf.sort_values("n_events").groupby("user_id").tail(1)
        exp = self.backlog_expected
        merged = exp.merge(last, on="user_id", suffixes=("_e", "_g"))
        return (len(merged) == len(exp) == len(last)
                and bool((merged.n_events_e == merged.n_events_g).all())
                and bool(np.allclose(merged.sum_value_e, merged.sum_value_g,
                                     rtol=1e-12, atol=1e-6)))

    def traced_extras(self, tracer) -> dict[str, float]:
        from insight_spark.operators.manifest import read_snapshot

        files = read_snapshot(self.spark, self.table_dir).inputFiles()
        return {"manifest.snapshot_files": float(len(files)),
                "_ingest_in_b": self.traced_in_bytes}

    def close(self) -> None:
        if getattr(self, "stream", None) is not None:
            self.stream.stop()
        super().close()


WORKLOADS = {w.name: w for w in (EtlBatch, IngestServe)}
