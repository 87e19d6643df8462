"""The two workloads: inputs, set-up, one closed-loop cycle, checks.

A workload drives sparvi only through its public functions. Each call
of a cycle runs inside a span named ``<module>.<function>``; its output
is checked right after the span closes, so checking costs no measured
time. A check returns ``None`` when the output is right, else a short
reason.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pyarrow.parquet as pq

import gen


def _ids_digest(values) -> str:
    return hashlib.sha256(repr(sorted(values)).encode()).hexdigest()


class Workload:
    """Base: subclasses set ``name`` and ``calls`` and implement
    :meth:`generate`, :meth:`setup` and :meth:`cycle`."""

    name = ""
    # (span name, metric name as users read it) for each call of a
    # cycle, in order. Every workload makes four calls a cycle, so the
    # k-th call's statistics have the same name (call<k>.*) in both.
    calls: tuple[tuple[str, str], ...] = ()

    def __init__(self, seed: int, data_dir: str):
        self.seed = seed
        self.data_dir = data_dir
        os.makedirs(data_dir, exist_ok=True)

    def _write(self, name: str, table) -> str:
        path = os.path.join(self.data_dir, f"{name}.parquet")
        pq.write_table(table, path)
        return path

    def generate(self) -> str:
        """Write the seeded inputs; returns their digest."""
        raise NotImplementedError

    def setup(self, spark, bench) -> None:
        raise NotImplementedError

    def cycle(self, spark, bench, i: int) -> None:
        raise NotImplementedError


class DQ(Workload):
    """profile_table and run_validations (its default rules) of each of
    lineitem and orders."""

    name = "dq"
    calls = (
        ("profiler.profile_table.lineitem", "profile_lineitem_s"),
        ("profiler.profile_table.orders", "profile_orders_s"),
        ("validations.run_validations.lineitem", "validate_lineitem_s"),
        ("validations.run_validations.orders", "validate_orders_s"),
    )
    tables = ("lineitem", "orders")
    keys = {"lineitem": ["l_orderkey", "l_linenumber"],
            "orders": ["o_orderkey"]}
    n_rules = 44

    def generate(self) -> str:
        tables = gen.dq_tables(self.seed)
        self.duck = duckdb.connect()
        self.oracle = {}
        for name in self.tables:
            path = self._write(name, tables[name])
            self.duck.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            cols = tables[name].column_names
            row = self.duck.execute(
                "SELECT count(*), "
                + ", ".join(f'count(*) - count("{c}")' for c in cols)
                + f" FROM {name}").fetchone()
            self.oracle[name] = (row[0], dict(zip(cols, row[1:])))
        self.rule_oracle: dict[str, object] = {}
        return gen.digest(*(tables[t] for t in self.tables))

    def setup(self, spark, bench) -> None:
        from sparvi_core_spark import get_default_validations, register_views

        with bench.tracer.span("session.register_views"):
            register_views(spark, self.data_dir, self.tables)
        self.rules = {}
        for table in self.tables:
            with bench.tracer.span(
                    f"validations.get_default_validations.{table}"):
                self.rules[table] = get_default_validations(
                    spark, table, primary_keys=self.keys[table])
        n = sum(len(r) for r in self.rules.values())
        if n != self.n_rules:
            raise RuntimeError(f"expected {self.n_rules} default rules, got {n}")
        for r in (r for rules in self.rules.values() for r in rules):
            if r["name"] not in self.rule_oracle:
                self.rule_oracle[r["name"]] = self.duck.execute(
                    r["query"]).fetchone()[0]

    def _check_profile(self, table: str):
        rows, nulls = self.oracle[table]

        def check(p):
            if p["row_count"] != rows:
                return f"{table} row_count {p['row_count']} != {rows}"
            for col, n in nulls.items():
                got = p["completeness"][col]["nulls"]
                if got != n:
                    return f"{table}.{col} nulls {got} != {n}"
            return None
        return check

    def _check_rules(self, table: str):
        def check(results):
            if len(results) != len(self.rules[table]):
                return (f"{len(results)} rule results for "
                        f"{len(self.rules[table])} rules")
            for r in results:
                want = self.rule_oracle[r["name"]]
                got = r.get("actual_value")
                if want is None or got is None:
                    same = want is got
                else:
                    same = math.isclose(float(got), float(want),
                                        rel_tol=1e-9, abs_tol=1e-9)
                if not same:
                    return f"rule {r['name']} actual {got} != {want}"
            return None
        return check

    def cycle(self, spark, bench, i: int) -> None:
        from sparvi_core_spark import profile_table, run_validations

        for (span, _), table in zip(self.calls[:2], self.tables):
            bench.call(span, lambda: profile_table(spark, table),
                       self._check_profile(table))
        for (span, _), table in zip(self.calls[2:], self.tables):
            bench.call(span, lambda: run_validations(spark, self.rules[table]),
                       self._check_rules(table))


class Ingest(Workload):
    """prepare_corpus -> language_id(ngram) -> write_minhash_index of the
    corpus -> probe_minhash_index with a fresh batch."""

    name = "ingest"
    calls = (
        ("operators.prepare_corpus", "dedup_docs_per_s"),
        ("functions.language_id", "langid_docs_per_s"),
        ("sources.write_minhash_index", "index_docs_per_s"),
        ("sources.probe_minhash_index", "probe_s"),
    )

    def generate(self) -> str:
        self.inputs = gen.ingest_inputs(self.seed)
        self.n_docs = self.inputs.docs.num_rows
        self._write("documents", self.inputs.docs)
        self.mh_path = os.path.join(self.data_dir, "mhidx")
        self.stable: dict[str, str] = {}
        return gen.digest(self.inputs.docs)

    def setup(self, spark, bench) -> None:
        from sparvi_core_spark import register_views
        from sparvi_core_spark.functions.text import (
            LANGID_SAMPLE_DIR,
            train_langid_from_dir,
        )

        with bench.tracer.span("session.register_views"):
            register_views(spark, self.data_dir, ("documents",))
        # The model language_id's model=None default trains (the
        # packaged 28-language sample), trained once here instead of in
        # every call. Its counts are materialized on first use, in the
        # warm-up cycle, so the measured calls time the scoring only.
        with bench.tracer.span("functions.train_langid_from_dir"):
            self.langid = train_langid_from_dir(
                spark, os.path.join(LANGID_SAMPLE_DIR, "train"))

    def _same_every_cycle(self, key: str, ids) -> str | None:
        d = _ids_digest(ids)
        if self.stable.setdefault(key, d) != d:
            return f"{key} output differs from the first cycle"
        return None

    def _check_survivors(self, pdf):
        ids = pdf["doc_id"].tolist()
        copies = sum(1 for x in ids if x >= gen.COPY_BASE)
        if copies:
            return f"{copies} planted exact copies survived dedup"
        if not 0 < len(ids) < self.n_docs:
            return f"{len(ids)} survivors of {self.n_docs} docs"
        return self._same_every_cycle("survivors", ids)

    def _check_langid(self, pdf):
        if len(pdf) != self.n_docs or pdf["id"].nunique() != self.n_docs:
            return f"{len(pdf)} language predictions for {self.n_docs} docs"
        return self._same_every_cycle(
            "langid", zip(pdf["id"], pdf["predicted_lang"]))

    def _check_index(self, manifest):
        if manifest["n_docs"] != self.n_docs or manifest["dropped_short"]:
            return (f"indexed {manifest['n_docs']} docs, dropped "
                    f"{manifest['dropped_short']}; want all {self.n_docs}")
        return None

    @staticmethod
    def _check_probe(pairs: dict[int, int]):
        def check(pdf):
            exact = pdf[pdf["est_jaccard"] == 1.0]
            found = set(zip(exact["batch_id"], exact["index_id"]))
            missing = [b for b, s in pairs.items() if (b, s) not in found]
            if missing:
                return f"{len(missing)} recrawl copies not paired at 1.0"
            return None
        return check

    def cycle(self, spark, bench, i: int) -> None:
        from sparvi_core_spark.functions.text import language_id
        from sparvi_core_spark.operators.pipeline import prepare_corpus
        from sparvi_core_spark.sources.minhash_index import (
            probe_minhash_index,
            write_minhash_index,
        )

        batch, pairs = self.inputs.probe_batch(i)
        probe_path = self._write(f"probe_{i}", batch)
        docs = spark.table("documents")
        bench.call(self.calls[0][0],
                   lambda: prepare_corpus(docs)[0].select("doc_id").toPandas(),
                   self._check_survivors)
        bench.call(self.calls[1][0],
                   lambda: language_id(docs, strategy="ngram",
                                       model=self.langid).toPandas(),
                   self._check_langid)
        bench.call(self.calls[2][0],
                   lambda: write_minhash_index(
                       docs.select("doc_id", "text"), self.mh_path,
                       num_hashes=16, threshold=0.8, n_buckets=8),
                   self._check_index)
        bench.call(self.calls[3][0],
                   lambda: probe_minhash_index(
                       spark, self.mh_path, spark.read.parquet(probe_path)
                   ).toPandas(),
                   self._check_probe(pairs))


WORKLOADS = {w.name: w for w in (DQ, Ingest)}
