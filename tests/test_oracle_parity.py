"""Local mini-driver: every queries() entry vs its DuckDB oracle at sf0.01.

Mimics the driver's t2 gate (BASELINE.md): row count + column names +
order-insensitive value comparison. Values are normalized (numerics →
float64, everything else → string) and rows sorted by all columns, so a
pass here means the driver's value-hash compare will also pass, modulo
its exact hashing of floats — which is why every floating output in the
query pairs is rounded identically on both sides.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool).astype(str)
        elif pd.api.types.is_numeric_dtype(df[c]):
            df[c] = df[c].astype("float64").round(6)
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _dtype_kinds(df: pd.DataFrame) -> dict:
    """Column → coarse dtype kind ('int' / 'float' / 'bool' / 'other').

    The driver's value hash is representation-strict: a bigint column on
    the Spark side vs a HUGEINT-as-float column on the oracle side hash
    differently even when every value compares equal under Python ``==``
    (27165 == 27165.0).  _normalize() coerces everything to float64, so
    without this pre-check the local harness passes while the driver
    fails (the exact r6 corpus_diversity/embedding_health trap).
    Unsigned ints count as ints; a column that pandas widened to float
    because it carries nulls still reports 'float', which mirrors what
    the driver sees after Arrow conversion on both sides.
    """
    out = {}
    for c in df.columns:
        k = df[c].dtype.kind
        out[c.lower()] = {"i": "int", "u": "int", "f": "float", "b": "bool"}.get(
            k, "other"
        )
    return out


def _assert_frames_match(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame):
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(duck_pdf)}"
    )
    sk, dk = _dtype_kinds(spark_pdf), _dtype_kinds(duck_pdf)
    assert sk == dk, (
        f"{name}: dtype-kind mismatch (driver hash would differ): "
        f"spark={sk} oracle={dk}"
    )
    s, d = _normalize(spark_pdf), _normalize(duck_pdf)
    assert list(s.columns) == list(d.columns), (
        f"{name}: columns {list(s.columns)} != oracle {list(d.columns)}"
    )
    for c in s.columns:
        sv, dv = s[c].tolist(), d[c].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                assert a == b, f"{name}.{c}[{i}]: {a!r} != {b!r}"
            else:
                assert a == b, f"{name}.{c}[{i}]: {a!r} != {b!r}"


QUERY_NAMES = sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_oracle_parity(spark, duck, name):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    spark_pdf = qs[name](spark, SF_DIR).toPandas()
    if name not in oracles:
        # non-SQL-expressible ops get the driver's weaker rows-only
        # check; locally we at least assert execution + rows
        assert len(spark_pdf) > 0, f"{name}: rows-only check found 0 rows"
        return
    duck_pdf = duck.execute(oracles[name]).df()
    _assert_frames_match(name, spark_pdf, duck_pdf)


@pytest.mark.parametrize("name", sorted(entrymod.local_pairs().keys()))
def test_demoted_pair_parity(spark, duck, name):
    """Pairs swapped out of the 50-entry driver pin keep the IDENTICAL
    oracle check here (round-6: array_agg, ngram_jaccard_lsh)."""
    fn, sql = entrymod.local_pairs()[name]
    _assert_frames_match(
        name, fn(spark, SF_DIR).toPandas(), duck.execute(sql).df()
    )


# ---------------------------------------------------------------------------
# Local-only oracle pairs — shapes that left the driver's 50-query pin
# (mode, set-ops, HLL) keep full oracle coverage here, where there is no
# query-count cap.
# ---------------------------------------------------------------------------


def test_local_mode_parity(spark, duck):
    """F.mode(deterministic=True) vs DuckDB's deterministic-mode twin
    (lowest value among the most frequent)."""
    from sparvi_core_spark.profiler.metrics import mode_exprs

    cols = ["l_returnflag", "l_linestatus", "l_shipdate", "l_quantity"]
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    spark_pdf = df.agg(*mode_exprs(cols)).toPandas()
    sub = ", ".join(
        f'(SELECT {c} FROM lineitem WHERE {c} IS NOT NULL '
        f'GROUP BY {c} ORDER BY count(*) DESC, {c} ASC LIMIT 1) AS "mode//{c}"'
        for c in cols
    )
    duck_pdf = duck.execute(f"SELECT {sub}").df()
    _assert_frames_match("mode", spark_pdf, duck_pdf)


def test_local_setops_parity(spark, duck):
    """INTERSECT / EXCEPT (distinct set semantics) vs DuckDB."""
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        pd_col("c_nationkey", "nationkey")
    )
    supp = spark.read.parquet(f"{SF_DIR}/supplier.parquet").select(
        pd_col("s_nationkey", "nationkey")
    )
    inter_pdf = cust.intersect(supp).toPandas()
    duck_inter = duck.execute(
        "SELECT c_nationkey AS nationkey FROM customer "
        "INTERSECT SELECT s_nationkey FROM supplier"
    ).df()
    _assert_frames_match("intersect", inter_pdf, duck_inter)

    exc_pdf = cust.subtract(supp).toPandas()  # EXCEPT (distinct) semantics
    duck_exc = duck.execute(
        "SELECT c_nationkey AS nationkey FROM customer "
        "EXCEPT SELECT s_nationkey FROM supplier"
    ).df()
    _assert_frames_match("except", exc_pdf, duck_exc)


def test_local_approx_percentile_tolerance(spark, duck):
    """percentile_approx (the auto-flip scale path) within rank
    tolerance of the exact DuckDB percentile_cont: at accuracy=10000
    the sketch's rank error is ~1/accuracy, so the approx value must
    fall inside the exact [p-0.01, p+0.01] quantile envelope."""
    from sparvi_core_spark.profiler.metrics import approx_quartile_exprs

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    row = df.agg(*approx_quartile_exprs(["l_extendedprice"])).collect()[0]
    approx_q = row["quartiles//l_extendedprice"]
    for p, got in zip((0.25, 0.5, 0.75), approx_q):
        lo, hi = duck.execute(
            f"SELECT percentile_cont({max(p - 0.01, 0)}) WITHIN GROUP (ORDER BY l_extendedprice), "
            f"percentile_cont({min(p + 0.01, 1)}) WITHIN GROUP (ORDER BY l_extendedprice) "
            "FROM lineitem"
        ).fetchone()
        assert lo <= got <= hi, f"p{p}: {got} outside exact envelope [{lo}, {hi}]"


def test_local_hll_tolerance(spark, duck):
    """approx_count_distinct (HLL++) within tolerance of the exact
    count. Sketches differ across engines, so the oracle is the exact
    DuckDB count with a 4·rsd relative band."""
    from sparvi_core_spark.profiler.metrics import approx_distinct_exprs

    rsd = 0.02
    cols = ["o_custkey", "o_orderdate", "o_orderpriority"]
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    row = df.agg(*approx_distinct_exprs(cols, rsd)).collect()[0]
    exact = duck.execute(
        "SELECT " + ", ".join(f"count(DISTINCT {c})" for c in cols) + " FROM orders"
    ).fetchone()
    for c, ex in zip(cols, exact):
        approx = row[f"distinct//{c}"]
        assert abs(approx - ex) <= max(1, 4 * rsd * ex), (
            f"{c}: approx {approx} vs exact {ex} outside 4*rsd"
        )


def pd_col(src, dst):
    from pyspark.sql import functions as F

    return F.col(src).alias(dst)


def test_local_q5_local_supplier_volume(spark, duck):
    """Full TPC-H-Q5 shape — 6-table join incl. the local-supplier
    condition (c_nationkey = s_nationkey), revenue per nation. The
    50-query pin carries the 4-table region_revenue variant; this keeps
    the full shape oracle-covered locally. Dims broadcast; the fact
    side shuffles once for the agg."""
    from pyspark.sql import functions as F

    t = {
        n: spark.read.parquet(f"{SF_DIR}/{n}.parquet")
        for n in ["lineitem", "orders", "customer", "supplier", "nation", "region"]
    }
    j = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
    )
    spark_pdf = (
        j.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .toPandas()
    )
    duck_pdf = duck.execute("""
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY n_name
    """).df()
    _assert_frames_match("q5_local_supplier_volume", spark_pdf, duck_pdf)


def test_local_q10_returned_items(spark, duck):
    """TPC-H-Q10 shape: top-20 customers by revenue on returned items
    (l_returnflag = 'R'). Ordering on the ROUNDED revenue with custkey
    tie-break so the top-20 cut is engine-stable."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    spark_pdf = (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .toPandas()
    )
    duck_pdf = duck.execute("""
        SELECT c_custkey, c_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """).df()
    _assert_frames_match("q10_returned_items", spark_pdf, duck_pdf)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema is not None


def test_local_redact_pii_parity(spark, duck):
    """redact_pii vs the identical regexp_replace chain in DuckDB.
    PII_PATTERNS is kept in the Java-regex ∩ RE2 subset precisely so
    both engines produce byte-identical redactions; plus a
    no-false-positive check over the real documents table."""
    import pandas as pd

    from sparvi_core_spark.functions.text import PII_PATTERNS, redact_documents

    fixture = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [
                "mail jane.doe+x@example.co.uk and BOB@SUB.EXAMPLE.ORG now",
                "hosts 192.168.0.1 and 10.0.255.254 and 1.2.3.4",
                "ssn 123-45-6789 vs phone 555-123-4567 / 555.123.4567 / +4915112345678",
                "clean: 3.14, v1.2.3 is a tag, a-b-c, x@y (not an email), 12-34",
                "",
            ],
        }
    )
    sdf = redact_documents(spark.createDataFrame(fixture))
    duck.register("pii_fixture", fixture)
    expr, params = "text", []
    for _, pat, rep in PII_PATTERNS:
        expr = f"regexp_replace({expr}, ?, ?, 'g')"
        params.extend([pat, rep])
    duck_pdf = duck.execute(
        f"SELECT doc_id AS id, {expr} AS text FROM pii_fixture", params
    ).df()
    _assert_frames_match("redact_pii", sdf.toPandas(), duck_pdf)

    # the synthetic corpus contains no PII shapes: redaction must be a
    # no-op there (false-positive guard over 500 real rows)
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    red = redact_documents(docs).withColumnRenamed("text", "redacted")
    changed = (
        red.join(docs, red["id"] == docs["doc_id"])
        .filter(F.col("redacted") != F.col("text"))
        .count()
    )
    assert changed == 0


def test_local_ngram_collisions_parity(spark, duck):
    """ngram_collisions (Spark: xxhash64 keys + broadcast membership)
    vs a DuckDB first-principles reimplementation joining raw trigram
    strings, screening the first 400 documents against the last 50 —
    identical results prove the hashed-key plan loses nothing."""
    from sparvi_core_spark.operators.decontamination import ngram_collisions

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.filter("doc_id < 400")
    reference = docs.filter("doc_id >= 450")
    spark_pdf = ngram_collisions(corpus, reference, n=3).toPandas()
    duck_pdf = duck.execute("""
        WITH grams AS (
          SELECT doc_id, unnest(gl) AS gram FROM (
            SELECT doc_id,
                   list_transform(range(1, len(t) - 1),
                                  i -> array_to_string(t[i:i+2], ' ')) AS gl
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
            WHERE len(t) >= 3
          )
        ), ref AS (
          SELECT DISTINCT gram FROM grams WHERE doc_id >= 450
        ), corp AS (
          SELECT g.doc_id, g.gram, (r.gram IS NOT NULL)::int AS hit
          FROM grams g LEFT JOIN ref r USING (gram)
          WHERE g.doc_id < 400
        )
        SELECT doc_id AS id, count(*) AS n_ngrams,
               CAST(sum(hit) AS BIGINT) AS n_collisions,
               round(sum(hit) * 1.0 / count(*), 4) AS collision_frac
        FROM corp GROUP BY doc_id HAVING sum(hit) > 0
    """).df()
    _assert_frames_match("ngram_collisions", spark_pdf, duck_pdf)


def test_local_pack_chunked_parity(spark, duck):
    """pack_chunked (window cumsum + sequence explode) vs a DuckDB
    window-function reimplementation: one group, corpus order, so the
    whole chunk layout — spans, pack ids, per-pack token splits — must
    be byte-identical."""
    from pyspark.sql import functions as F

    from sparvi_core_spark.functions.text import token_counts
    from sparvi_core_spark.operators.packing import pack_chunked

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter("doc_id < 200")
    toks = token_counts(docs).select(
        F.col("id").alias("doc_id"), F.col("ws_tokens").alias("n_tokens")
    )
    spark_pdf = pack_chunked(toks, 500, num_groups=1, order="id").toPandas()
    duck_pdf = duck.execute("""
        WITH toks AS (
          SELECT doc_id AS id,
                 CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                      AS BIGINT) AS eff
          FROM documents WHERE doc_id < 200
        ), spans AS (
          SELECT id, 0 AS pack_group,
                 CAST(sum(eff) OVER w - eff AS BIGINT) AS begin_token,
                 CAST(sum(eff) OVER w AS BIGINT) AS end_token
          FROM toks WHERE eff > 0
          WINDOW w AS (ORDER BY id ROWS UNBOUNDED PRECEDING)
        ), ex AS (
          SELECT *, unnest(range(begin_token // 500,
                                 (end_token - 1) // 500 + 1)) AS pack_id
          FROM spans
        )
        SELECT id, end_token - begin_token AS tokens, pack_group, pack_id,
               begin_token, end_token,
               least(end_token, (pack_id + 1) * 500)
                 - greatest(begin_token, pack_id * 500) AS tokens_in_pack
        FROM ex
    """).df()
    _assert_frames_match("pack_chunked", spark_pdf, duck_pdf)


def test_local_repetition_stats_parity(spark, duck):
    """repetition_stats (Gopher/C4-style duplicate-line and top-n-gram
    fractions) vs a DuckDB reimplementation from first principles
    (string_split + unnest + struct-max), on a fixture exercising
    repeated lines, blank/whitespace lines, repeated grams, short docs
    and the empty doc."""
    import pandas as pd

    from sparvi_core_spark.functions.text import repetition_stats

    fixture = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [
                "spam spam spam spam",
                "a b\nc d\na b\n\n  \nc d\na b",
                "unique words only here",
                "one",
                "",
            ],
        }
    )
    sdf = repetition_stats(spark.createDataFrame(fixture))
    duck.register("rep_fixture", fixture)
    duck_pdf = duck.execute("""
        WITH lines AS (
          SELECT doc_id, trim(l) AS line
          FROM rep_fixture, unnest(string_split(text, chr(10))) AS u(l)
          WHERE trim(l) <> ''
        ), lc AS (
          SELECT doc_id, line, count(*) AS cnt, length(line) AS len
          FROM lines GROUP BY 1, 2
        ), ls AS (
          SELECT doc_id, sum(cnt) AS n_lines, sum(cnt - 1) AS dup_occ,
                 sum((cnt - 1) * len) AS dup_chars, sum(cnt * len) AS line_chars
          FROM lc GROUP BY 1
        ), grams AS (
          SELECT doc_id, unnest(gl) AS gram FROM (
            SELECT doc_id,
                   list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) AS gl
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM rep_fixture)
            WHERE len(t) >= 2
          )
        ), gc AS (
          SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2
        ), gs AS (
          SELECT doc_id,
                 max(struct_pack(c := cnt, chars := cnt * length(gram), g := gram)) AS top
          FROM gc GROUP BY 1
        )
        SELECT f.doc_id AS id,
               CAST(coalesce(ls.n_lines, 0) AS BIGINT) AS n_lines,
               round(coalesce(ls.dup_occ * 1.0 / greatest(ls.n_lines, 1), 0), 4) AS dup_line_frac,
               round(coalesce(ls.dup_chars * 1.0 / greatest(ls.line_chars, 1), 0), 4) AS dup_line_char_frac,
               gs.top.g AS top_gram,
               coalesce(gs.top.c, 0) AS top_gram_count,
               round(coalesce(gs.top.chars * 1.0 / greatest(length(f.text), 1), 0), 4) AS top_gram_char_frac
        FROM rep_fixture f
        LEFT JOIN ls ON f.doc_id = ls.doc_id
        LEFT JOIN gs ON f.doc_id = gs.doc_id
    """).df()
    _assert_frames_match("repetition_stats", sdf.toPandas(), duck_pdf)

    # and on the real documents table (space-joined words: line stats
    # trivial, gram stats load-bearing) — full 500-doc parity
    sdf2 = repetition_stats(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    duck_pdf2 = duck.execute("""
        WITH grams AS (
          SELECT doc_id, unnest(gl) AS gram FROM (
            SELECT doc_id,
                   list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) AS gl
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
            WHERE len(t) >= 2
          )
        ), gc AS (
          SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2
        ), gs AS (
          SELECT doc_id,
                 max(struct_pack(c := cnt, chars := cnt * length(gram), g := gram)) AS top
          FROM gc GROUP BY 1
        )
        SELECT d.doc_id AS id, 1 AS n_lines, 0.0 AS dup_line_frac,
               0.0 AS dup_line_char_frac, gs.top.g AS top_gram,
               gs.top.c AS top_gram_count,
               round(gs.top.chars * 1.0 / greatest(length(d.text), 1), 4) AS top_gram_char_frac
        FROM documents d JOIN gs ON d.doc_id = gs.doc_id
    """).df()
    _assert_frames_match("repetition_stats_documents", sdf2.toPandas(), duck_pdf2)


def test_local_mix_corpora_parity(spark, duck):
    """mix_corpora (exact path, corpus order) vs a DuckDB window-cumsum
    reimplementation of the kept-iff-starts-within-budget contract,
    using `source` as the domain and `n_chars` as the token weight."""
    from sparvi_core_spark.operators.mixing import mix_corpora

    weights = {"src0": 0.5, "src1": 0.3, "src2": 0.2, "src3": 0.0}
    total = 9_000
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    spark_pdf = mix_corpora(
        docs, weights, total,
        domain_col="source", tokens_col="n_chars",
        order="id", exact=True,
    ).toPandas()
    values = ", ".join(
        f"('{d}', {int(f * total)})" for d, f in weights.items()
    )
    duck_pdf = duck.execute(f"""
        WITH b(source, budget) AS (VALUES {values}),
        g AS (
          SELECT d.doc_id, d.source, d.n_chars, b.budget,
                 sum(d.n_chars) OVER (
                   PARTITION BY d.source ORDER BY d.doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM documents d JOIN b USING (source))
        SELECT doc_id, source, n_chars
        FROM g WHERE cum - n_chars < budget
    """).df()
    assert len(spark_pdf) > 0
    _assert_frames_match("mix_corpora", spark_pdf, duck_pdf)


def test_local_cluster_representatives_parity(spark, duck):
    """select_cluster_representatives (min_by argmax, no window) vs a
    DuckDB row_number reimplementation: synthetic clusters of 5 over
    doc_id < 100, singletons elsewhere, quality = n_chars."""
    from pyspark.sql import functions as F

    from sparvi_core_spark.operators.dedup import select_cluster_representatives

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    clusters = (
        docs.filter("doc_id < 100")
        .select(
            F.col("doc_id").alias("id"),
            (F.col("doc_id") - F.col("doc_id") % 5).alias("cluster"),
        )
    )
    spark_pdf = select_cluster_representatives(
        docs, clusters, score_col="n_chars"
    ).toPandas()
    duck_pdf = duck.execute("""
        WITH cl AS (
          SELECT doc_id AS id, doc_id - doc_id % 5 AS cluster
          FROM documents WHERE doc_id < 100),
        j AS (
          SELECT d.doc_id, d.source, d.n_chars,
                 coalesce(cl.cluster, d.doc_id) AS label
          FROM documents d LEFT JOIN cl ON d.doc_id = cl.id),
        r AS (
          SELECT *, row_number() OVER (
            PARTITION BY label ORDER BY n_chars DESC, doc_id ASC) AS rn
          FROM j)
        SELECT doc_id, source, n_chars FROM r WHERE rn = 1
    """).df()
    _assert_frames_match("cluster_representatives", spark_pdf, duck_pdf)


def test_local_calibrate_threshold_parity(spark, duck):
    """calibrate_quality_threshold (exact interpolated percentile) vs
    DuckDB quantile_cont: same threshold, same kept set."""
    from sparvi_core_spark.operators.pipeline import calibrate_quality_threshold

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    t, kept = calibrate_quality_threshold(
        docs, "n_chars", keep_frac=0.4, approx=False
    )
    oracle_t = duck.execute(
        "SELECT quantile_cont(n_chars, 0.6) FROM documents"
    ).fetchone()[0]
    assert t == pytest.approx(float(oracle_t), rel=1e-12)
    duck_pdf = duck.execute(f"""
        SELECT doc_id, n_chars FROM documents WHERE n_chars >= {oracle_t!r}
    """).df()
    _assert_frames_match("calibrate_threshold", kept.toPandas(), duck_pdf)


def test_local_novelty_filter_parity(spark, duck):
    """novelty_filter (new-batch-vs-reference LSH screen) vs a DuckDB
    reimplementation of the full route (shingles → 8 minhashes → 4-band
    LSH new×ref join → agreement-fraction verify). The new batch mixes
    re-crawled copies of reference docs (relabeled ids) with genuinely
    unseen docs."""
    from pyspark.sql import functions as F

    from sparvi_core_spark.operators.dedup import novelty_filter

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    reference = docs.filter("doc_id < 400")
    newb = docs.filter("doc_id < 100").select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    ).unionByName(docs.filter("doc_id >= 400 AND doc_id < 500"))
    novel, matches = novelty_filter(
        newb, reference, num_hashes=8, bands=4, threshold=0.5
    )
    spark_matches = matches.toPandas()
    spark_novel = novel.select("doc_id").toPandas()

    shingle3 = (
        "list_transform(range(1, len(string_split(text, ' ')) - 1), i -> "
        "string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] "
        "|| ' ' || string_split(text, ' ')[i+2])"
    )
    sig = """
        SELECT id,
               min(md5('0|' || shingle)) AS h0, min(md5('1|' || shingle)) AS h1,
               min(md5('2|' || shingle)) AS h2, min(md5('3|' || shingle)) AS h3,
               min(md5('4|' || shingle)) AS h4, min(md5('5|' || shingle)) AS h5,
               min(md5('6|' || shingle)) AS h6, min(md5('7|' || shingle)) AS h7
        FROM {src}_sh GROUP BY id
    """
    bands = """
        SELECT id, b.band, CASE b.band
            WHEN 0 THEN md5(h0 || '|' || h1) WHEN 1 THEN md5(h2 || '|' || h3)
            WHEN 2 THEN md5(h4 || '|' || h5) ELSE md5(h6 || '|' || h7) END AS bkey
        FROM {src}_sig, (SELECT unnest([0, 1, 2, 3]) AS band) b
    """
    agree = " + ".join(f"(sa.h{k} = sb.h{k})::INT" for k in range(8))
    base = f"""
        WITH newdocs AS (
            SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 100
            UNION ALL
            SELECT doc_id, text FROM documents WHERE doc_id >= 400 AND doc_id < 500
        ),
        refdocs AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
        new_sh AS (
            SELECT doc_id AS id, unnest({shingle3}) AS shingle
            FROM newdocs WHERE len(string_split(text, ' ')) >= 3),
        ref_sh AS (
            SELECT doc_id AS id, unnest({shingle3}) AS shingle
            FROM refdocs WHERE len(string_split(text, ' ')) >= 3),
        new_sig AS ({sig.format(src='new')}),
        ref_sig AS ({sig.format(src='ref')}),
        new_bands AS ({bands.format(src='new')}),
        ref_bands AS ({bands.format(src='ref')}),
        cands AS (
            SELECT DISTINCT a.id AS new_id, b.id AS ref_id
            FROM new_bands a JOIN ref_bands b
              ON a.band = b.band AND a.bkey = b.bkey),
        verified AS (
            SELECT c.new_id, c.ref_id, ({agree}) / 8.0 AS est_jaccard
            FROM cands c
            JOIN new_sig sa ON c.new_id = sa.id
            JOIN ref_sig sb ON c.ref_id = sb.id
            WHERE ({agree}) / 8.0 >= 0.5)
    """
    duck_matches = duck.execute(base + "SELECT * FROM verified").df()
    duck_novel = duck.execute(base + """
        SELECT doc_id FROM newdocs
        WHERE doc_id NOT IN (SELECT new_id FROM verified)
    """).df()
    assert len(spark_matches) >= 100  # the 100 re-crawled copies at 1.0
    _assert_frames_match("novelty_matches", spark_matches, duck_matches)
    _assert_frames_match("novelty_novel", spark_novel, duck_novel)


def test_local_boilerplate_removal_parity(spark, duck):
    """remove_boilerplate_lines (corpus-level line dedup) vs a DuckDB
    reimplementation: line doc-frequency over trimmed lines, threshold
    strip, order-preserving reassembly, empty-doc restoration."""
    import pandas as pd

    from sparvi_core_spark.operators.boilerplate import remove_boilerplate_lines

    footer = "copyright 2024 example corp"
    nav = "home | products | about"
    rows = []
    for i in range(12):
        rows.append((i, f"{nav}\nunique body {i} text\n\n{footer}"))
    rows.append((100, f"{nav}\n{footer}"))          # fully boilerplate
    rows.append((101, "original page\nsecond line"))  # untouched
    fixture = pd.DataFrame(rows, columns=["doc_id", "text"])
    sdf = remove_boilerplate_lines(
        spark.createDataFrame(fixture), min_docs=10
    )
    duck.register("bp_fixture", fixture)
    duck_pdf = duck.execute("""
        WITH t AS (
          SELECT doc_id, string_split(text, chr(10)) AS ls FROM bp_fixture),
        ex0 AS (
          SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS pos FROM t),
        ex AS (
          SELECT doc_id, pos, ls[pos] AS line FROM ex0),
        flagged AS (
          SELECT md5(trim(line)) AS k
          FROM ex WHERE length(trim(line)) >= 1
          GROUP BY 1 HAVING count(DISTINCT doc_id) >= 10),
        surv AS (
          SELECT doc_id, pos, line FROM ex
          WHERE length(trim(line)) < 1
             OR md5(trim(line)) NOT IN (SELECT k FROM flagged)),
        rebuilt AS (
          SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
          FROM surv GROUP BY doc_id)
        SELECT d.doc_id, coalesce(r.text, '') AS text
        FROM (SELECT DISTINCT doc_id FROM bp_fixture) d
        LEFT JOIN rebuilt r USING (doc_id)
    """).df()
    _assert_frames_match("boilerplate_removal", sdf.toPandas(), duck_pdf)


def test_local_substring_spans_parity(spark, duck):
    """duplicated_spans / substring_dup_stats vs a DuckDB
    reimplementation (rolling 6-token windows → doc frequency →
    gaps-and-islands span merge → per-doc coverage)."""
    import pandas as pd

    from sparvi_core_spark.operators.substring import (
        duplicated_spans,
        substring_dup_stats,
    )

    def words(prefix, n):
        return " ".join(f"{prefix}{i}" for i in range(n))

    shared_a = words("s", 10)
    shared_b = words("t", 7)
    rows = [
        (1, words("a", 4) + " " + shared_a + " " + words("b", 3)),
        (2, shared_a + " " + words("c", 12) + " " + shared_b),
        (3, words("d", 5) + " " + shared_b + " " + words("e", 2)),
        (4, words("f", 30)),
        (5, "short doc"),
    ]
    fixture = pd.DataFrame(rows, columns=["doc_id", "text"])
    sdf_spans = duplicated_spans(
        spark.createDataFrame(fixture), window=6, min_docs=2
    )
    sdf_stats = substring_dup_stats(
        spark.createDataFrame(fixture), window=6, min_docs=2
    )
    duck.register("ss_fixture", fixture)
    base = """
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM ss_fixture),
        w0 AS (
          SELECT doc_id, toks,
                 unnest(range(1, len(toks) - 4)) AS p1
          FROM t WHERE len(toks) >= 6),
        w AS (
          SELECT doc_id AS id, p1 - 1 AS pos,
                 md5(array_to_string(list_slice(toks, p1, p1 + 5), ' ')) AS whash
          FROM w0),
        flagged_hashes AS (
          SELECT whash FROM w GROUP BY whash
          HAVING count(DISTINCT id) >= 2),
        flagged AS (
          SELECT id, pos, pos + 6 AS e FROM w
          WHERE whash IN (SELECT whash FROM flagged_hashes)),
        marked AS (
          SELECT id, pos, e,
                 CASE WHEN pos > coalesce(max(e) OVER (
                     PARTITION BY id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                 THEN 1 ELSE 0 END AS new_seg
          FROM flagged),
        segs AS (
          SELECT id, pos, e,
                 sum(new_seg) OVER (PARTITION BY id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
          FROM marked),
        spans AS (
          SELECT id, min(pos) AS span_start, max(e) AS span_end
          FROM segs GROUP BY id, seg)
    """
    duck_spans = duck.execute(base + "SELECT * FROM spans").df()
    _assert_frames_match("substring_spans", sdf_spans.toPandas(), duck_spans)
    duck_stats = duck.execute(base + """
        , per_doc AS (
          SELECT id, count(*) AS dup_spans,
                 sum(span_end - span_start) AS dup_tokens
          FROM spans GROUP BY id)
        SELECT f.doc_id AS id,
               CAST(len(string_split(f.text, ' ')) AS BIGINT) AS n_tokens,
               CAST(coalesce(p.dup_spans, 0) AS BIGINT) AS dup_spans,
               CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               round(coalesce(p.dup_tokens, 0)
                     / greatest(len(string_split(f.text, ' ')), 1), 6)
                 AS dup_token_frac
        FROM ss_fixture f LEFT JOIN per_doc p ON f.doc_id = p.id
    """).df()
    _assert_frames_match("substring_stats", sdf_stats.toPandas(), duck_stats)


def test_local_range_join_parity(spark, duck):
    """Bucketed point-in-interval join vs DuckDB's native IEJoin plan
    for the same BETWEEN predicate. Windows are 90 minutes starting at
    each distinct event hour, so every window straddles a 3600s bucket
    boundary — the blocking path is exercised, not just the trivial
    one-bucket case."""
    from pyspark.sql import functions as F

    from sparvi_core_spark.operators.timeseries import range_join

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    win = (
        events.select(F.date_trunc("hour", "ts").alias("window_start"))
        .distinct()
        .withColumn("window_end", F.expr("window_start + INTERVAL 90 MINUTES"))
    )
    joined = range_join(
        events, win, "ts", "window_start", "window_end", bucket_seconds=3600
    )
    spark_pdf = (
        joined.groupBy("window_start")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
    )
    duck_pdf = duck.execute(
        """
        WITH w AS (
          SELECT DISTINCT date_trunc('hour', ts) AS window_start,
                 date_trunc('hour', ts) + INTERVAL 90 MINUTE AS window_end
          FROM events
        )
        SELECT w.window_start, count(*) AS n_events
        FROM events l JOIN w ON l.ts BETWEEN w.window_start AND w.window_end
        GROUP BY 1
        """
    ).df()
    _assert_frames_match("range_join", spark_pdf, duck_pdf)


def test_local_interval_overlap_join_parity(spark, duck):
    """Interval×interval overlap join vs DuckDB's inequality join.
    Left: 50-min windows at each distinct event hour; right: 40-min
    windows at each distinct half-hour — asymmetric widths so pairs
    overlap partially, nested, and touching."""
    from pyspark.sql import functions as F

    from sparvi_core_spark.operators.timeseries import interval_overlap_join

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    lwin = (
        events.select(F.date_trunc("hour", "ts").alias("l_start")).distinct()
        .withColumn("l_end", F.expr("l_start + INTERVAL 50 MINUTES"))
    )
    rwin = (
        events.select(F.expr(
            "timestampadd(MINUTE, 30 * (minute(ts) div 30), date_trunc('hour', ts))"
        ).alias("r_start")).distinct()
        .withColumn("r_end", F.expr("r_start + INTERVAL 40 MINUTES"))
    )
    pairs = interval_overlap_join(
        lwin, rwin, "l_start", "l_end", "r_start", "r_end", bucket_seconds=3600
    )
    spark_pdf = (
        pairs.groupBy("l_start").agg(F.count(F.lit(1)).alias("n_overlaps"))
        .toPandas()
    )
    duck_pdf = duck.execute(
        """
        WITH l AS (
          SELECT DISTINCT date_trunc('hour', ts) AS l_start,
                 date_trunc('hour', ts) + INTERVAL 50 MINUTE AS l_end
          FROM events
        ), r AS (
          SELECT DISTINCT date_trunc('hour', ts)
                   + INTERVAL (30 * (minute(ts) // 30)) MINUTE AS r_start,
                 date_trunc('hour', ts)
                   + INTERVAL (30 * (minute(ts) // 30) + 40) MINUTE AS r_end
          FROM events
        )
        SELECT l.l_start, count(*) AS n_overlaps
        FROM l JOIN r ON l.l_start <= r.r_end AND r.r_start <= l.l_end
        GROUP BY 1
        """
    ).df()
    _assert_frames_match("interval_overlap_join", spark_pdf, duck_pdf)


def test_local_sliding_window_parity(spark, duck):
    """F.window(ts, '1 hour', slide='30 minutes') vs DuckDB: a 1h/30min
    sliding window is exactly the union of two 1h tumbling grids offset
    by 0 and 30 minutes — each event lands in two windows."""
    from pyspark.sql import functions as F

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    spark_pdf = (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
        .toPandas()
    )
    duck_pdf = duck.execute(
        """
        WITH grids AS (
          SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start FROM events
          UNION ALL
          SELECT time_bucket(INTERVAL 1 HOUR, ts - INTERVAL 30 MINUTE)
                   + INTERVAL 30 MINUTE
          FROM events
        )
        SELECT window_start, count(*) AS n_events FROM grids GROUP BY 1
        """
    ).df()
    _assert_frames_match("sliding_window", spark_pdf, duck_pdf)


def test_local_equi_height_histogram_parity(spark, duck):
    """Quantile-bucketed histogram vs DuckDB: identical bin rule
    (count of exceeded boundaries, right-closed bins) over exact
    interpolated quantiles on both sides."""
    from sparvi_core_spark.functions.stats import equi_height_histogram

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    spark_pdf = (
        equi_height_histogram(df, "l_extendedprice", bins=8)
        .select("bin", "count")
        .toPandas()
    )
    duck_pdf = duck.execute(
        """
        WITH b AS (
          SELECT quantile_cont(l_extendedprice,
                 [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS qs
          FROM lineitem
        )
        SELECT len(list_filter(b.qs, q -> l.l_extendedprice > q)) AS bin,
               count(*) AS count
        FROM lineitem l, b GROUP BY 1
        """
    ).df()
    _assert_frames_match("equi_height_histogram", spark_pdf, duck_pdf)


def test_local_histogram_parity(spark, duck):
    """Equal-width histogram — left the 50-query pin for
    range_join_events (round 4); identical oracle coverage lives on
    here (same SQL the driver ran in rounds 1-3)."""
    from sparvi_core_spark.functions.stats import histogram

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    spark_pdf = histogram(df, "l_extendedprice", bins=10).toPandas()
    duck_pdf = duck.execute(
        """
        WITH bounds AS (
            SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem
        ),
        binned AS (
            SELECT LEAST(CAST(FLOOR((l_extendedprice - bounds.lo) / ((bounds.hi - bounds.lo) / 10)) AS INT), 9) AS bin
            FROM lineitem, bounds WHERE l_extendedprice IS NOT NULL
        )
        SELECT bin,
               ROUND((SELECT lo FROM bounds) + bin * (((SELECT hi FROM bounds) - (SELECT lo FROM bounds)) / 10), 6) AS bin_lo,
               ROUND((SELECT lo FROM bounds) + (bin + 1) * (((SELECT hi FROM bounds) - (SELECT lo FROM bounds)) / 10), 6) AS bin_hi,
               CAST(COUNT(*) AS BIGINT) AS count
        FROM binned GROUP BY bin
        """
    ).df()
    _assert_frames_match("histogram", spark_pdf, duck_pdf)


def test_local_psi_drift_parity(spark, duck):
    """PSI drift vs the same arithmetic in DuckDB SQL: reference-side
    deciles, right-closed bin rule, eps smoothing, Σ(c−r)·ln(c/r)."""
    from sparvi_core_spark.functions.stats import psi_drift

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    ref = li
    cur = li.filter("l_discount > 0.05")
    spark_pdf = psi_drift(ref, cur, "l_extendedprice", bins=10).toPandas()
    duck_pdf = duck.execute(
        """
        WITH b AS (
          SELECT quantile_cont(l_extendedprice,
                 [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
          FROM lineitem
        ),
        rb AS (
          SELECT len(list_filter(b.qs, q -> l.l_extendedprice > q)) AS bin,
                 count(*) AS n_ref
          FROM lineitem l, b GROUP BY 1
        ),
        cb AS (
          SELECT len(list_filter(b.qs, q -> l.l_extendedprice > q)) AS bin,
                 count(*) AS n_cur
          FROM lineitem l, b WHERE l.l_discount > 0.05 GROUP BY 1
        ),
        j AS (
          SELECT COALESCE(rb.n_ref, 0) AS n_ref, COALESCE(cb.n_cur, 0) AS n_cur
          FROM rb FULL OUTER JOIN cb USING (bin)
        ),
        t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM j)
        SELECT ROUND(SUM((GREATEST(n_cur * 1.0 / t.t_cur, 1e-6)
                          - GREATEST(n_ref * 1.0 / t.t_ref, 1e-6))
                     * LN(GREATEST(n_cur * 1.0 / t.t_cur, 1e-6)
                          / GREATEST(n_ref * 1.0 / t.t_ref, 1e-6))), 6) AS psi,
               CAST(t.t_ref AS BIGINT) AS n_ref,
               CAST(t.t_cur AS BIGINT) AS n_cur
        FROM j, t GROUP BY t.t_ref, t.t_cur
        """
    ).df()
    _assert_frames_match("psi_drift", spark_pdf, duck_pdf)


def test_local_ks_drift_parity(spark, duck):
    """Binned KS vs the same cumulative arithmetic in DuckDB (20
    reference-quantile bins, right-closed rule, max |CDF gap|)."""
    from sparvi_core_spark.functions.stats import ks_drift

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    cur = li.filter("l_quantity <= 25")
    spark_pdf = ks_drift(li, cur, "l_extendedprice", bins=20).toPandas()
    qs = ", ".join(str(i / 20) for i in range(1, 20))
    duck_pdf = duck.execute(
        f"""
        WITH b AS (
          SELECT quantile_cont(l_extendedprice, [{qs}]) AS qs FROM lineitem
        ),
        rb AS (
          SELECT len(list_filter(b.qs, q -> l.l_extendedprice > q)) AS bin,
                 count(*) AS n_ref
          FROM lineitem l, b GROUP BY 1
        ),
        cb AS (
          SELECT len(list_filter(b.qs, q -> l.l_extendedprice > q)) AS bin,
                 count(*) AS n_cur
          FROM lineitem l, b WHERE l.l_quantity <= 25 GROUP BY 1
        ),
        j AS (
          SELECT bin, COALESCE(rb.n_ref, 0) AS n_ref, COALESCE(cb.n_cur, 0) AS n_cur
          FROM rb FULL OUTER JOIN cb USING (bin)
        ),
        t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM j),
        c AS (
          SELECT SUM(n_ref) OVER (ORDER BY bin) * 1.0 / t.t_ref AS cr,
                 SUM(n_cur) OVER (ORDER BY bin) * 1.0 / t.t_cur AS cc,
                 t.t_ref, t.t_cur
          FROM j, t
        )
        SELECT ROUND(MAX(ABS(cr - cc)), 6) AS ks,
               CAST(t_ref AS BIGINT) AS n_ref, CAST(t_cur AS BIGINT) AS n_cur
        FROM c GROUP BY t_ref, t_cur
        """
    ).df()
    _assert_frames_match("ks_drift", spark_pdf, duck_pdf)


def test_local_corpus_diff_parity(spark, duck):
    """corpus_diff status counts vs a DuckDB full-outer md5 diff over a
    simulated recrawl of the documents table (drop doc_id%7, mutate
    doc_id%5, add shifted ids)."""
    from pyspark.sql import functions as F

    from sparvi_core_spark.operators.dedup import corpus_diff

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    new = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" MUT"))
            ).otherwise(F.col("text")).alias("text"),
        )
        .unionByName(
            docs.limit(50).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
    )
    spark_pdf = (
        corpus_diff(docs, new, normalize=False)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    duck_pdf = duck.execute(
        """
        WITH new AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN text || ' MUT' ELSE text END AS text
          FROM documents WHERE doc_id % 7 <> 0
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, text FROM (
            SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 50
          )
        ),
        o AS (SELECT doc_id AS id, md5(text) AS old_md5 FROM documents),
        n AS (SELECT doc_id AS id, md5(text) AS new_md5 FROM new),
        j AS (
          SELECT CASE WHEN o.old_md5 IS NULL THEN 'added'
                      WHEN n.new_md5 IS NULL THEN 'removed'
                      WHEN o.old_md5 = n.new_md5 THEN 'unchanged'
                      ELSE 'changed' END AS status
          FROM o FULL OUTER JOIN n USING (id)
        )
        SELECT status, CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY status
        """
    ).df()
    _assert_frames_match("corpus_diff", spark_pdf, duck_pdf)


def test_local_mutual_information_parity(spark, duck):
    """MI + marginal entropies vs the same arithmetic in DuckDB over a
    genuinely dependent pair (l_returnflag is determined by receipt
    date vs a fixed cutoff, l_linestatus by ship date — correlated)."""
    from sparvi_core_spark.functions.stats import mutual_information

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    spark_pdf = mutual_information(li, "l_returnflag", "l_linestatus").toPandas()
    duck_pdf = duck.execute(
        """
        WITH joint AS (
          SELECT l_returnflag AS x, l_linestatus AS y, COUNT(*) AS n
          FROM lineitem
          WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
          GROUP BY 1, 2
        ),
        m AS (
          SELECT n,
                 SUM(n) OVER (PARTITION BY x) AS nx,
                 SUM(n) OVER (PARTITION BY y) AS ny,
                 SUM(n) OVER () AS grand_total
          FROM joint
        )
        SELECT ROUND(SUM((n * 1.0 / grand_total)
                     * LN(n * grand_total * 1.0 / (nx * ny))), 6) AS mi,
               ROUND(SUM(-(n * 1.0 / grand_total) * LN(nx * 1.0 / grand_total)), 6) AS h_x,
               ROUND(SUM(-(n * 1.0 / grand_total) * LN(ny * 1.0 / grand_total)), 6) AS h_y,
               CAST(grand_total AS BIGINT) AS n
        FROM m GROUP BY grand_total
        """
    ).df()
    _assert_frames_match("mutual_information", spark_pdf, duck_pdf)


def test_local_chi2_independence_parity(spark, duck):
    """Chi-squared vs the same grid arithmetic in DuckDB (present cells
    + the recovered missing-cell expected mass)."""
    from sparvi_core_spark.functions.stats import chi2_independence

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    spark_pdf = chi2_independence(li, "l_linenumber", "l_returnflag").toPandas()
    duck_pdf = duck.execute(
        """
        WITH joint AS (
          SELECT CAST(l_linenumber AS VARCHAR) AS x, l_returnflag AS y, COUNT(*) AS n
          FROM lineitem
          WHERE l_linenumber IS NOT NULL AND l_returnflag IS NOT NULL
          GROUP BY 1, 2
        ),
        m AS (
          SELECT n,
                 SUM(n) OVER (PARTITION BY x) AS nx,
                 SUM(n) OVER (PARTITION BY y) AS ny,
                 SUM(n) OVER () AS grand_total
          FROM joint
        ),
        agg AS (
          SELECT grand_total,
                 SUM((n - nx*ny*1.0/grand_total) * (n - nx*ny*1.0/grand_total)
                     / (nx*ny*1.0/grand_total)) AS sum_present,
                 SUM(nx*ny*1.0/grand_total) AS sum_e_present
          FROM m GROUP BY grand_total
        ),
        cards AS (
          SELECT COUNT(DISTINCT x) AS cx, COUNT(DISTINCT y) AS cy FROM joint
        )
        SELECT ROUND(sum_present + (grand_total - sum_e_present), 6) AS chi2,
               (cards.cx - 1) * (cards.cy - 1) AS dof,
               CAST(grand_total AS BIGINT) AS n
        FROM agg, cards
        """
    ).df()
    _assert_frames_match("chi2_independence", spark_pdf, duck_pdf)


def test_local_bm25_parity(spark, duck):
    """BM25 ranking vs the identical formulation in DuckDB SQL: same
    tokenizer regex, Lucene idf, k1=1.2 / b=0.75, round(6)."""
    from sparvi_core_spark.operators.ranking import bm25_search

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    spark_pdf = bm25_search(df, "data quality pipeline", top_n=25).toPandas()
    duck_pdf = duck.execute(
        """
        WITH base AS (
          SELECT doc_id,
                 len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS dl,
                 len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x = 'data')) AS tf_data,
                 len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x = 'quality')) AS tf_quality,
                 len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x = 'pipeline')) AS tf_pipeline
          FROM documents
        ), stats AS (
          SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
                 sum((tf_data > 0)::BIGINT)::DOUBLE AS df_data,
                 sum((tf_quality > 0)::BIGINT)::DOUBLE AS df_quality,
                 sum((tf_pipeline > 0)::BIGINT)::DOUBLE AS df_pipeline
          FROM base
        )
        SELECT doc_id,
               round(
                 ln(1 + (n - df_data + 0.5)/(df_data + 0.5))
                   * (tf_data*2.2)/(tf_data + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
               + ln(1 + (n - df_quality + 0.5)/(df_quality + 0.5))
                   * (tf_quality*2.2)/(tf_quality + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
               + ln(1 + (n - df_pipeline + 0.5)/(df_pipeline + 0.5))
                   * (tf_pipeline*2.2)/(tf_pipeline + 1.2*(1 - 0.75 + 0.75*dl/avgdl)), 6) AS bm25,
               dl, tf_data, tf_quality, tf_pipeline
        FROM base, stats
        WHERE tf_data + tf_quality + tf_pipeline > 0
        ORDER BY bm25 DESC, doc_id LIMIT 25
        """
    ).df()
    _assert_frames_match("bm25_search", spark_pdf, duck_pdf)


def test_local_tfidf_parity(spark, duck):
    """Sparse TF-IDF (sklearn smoothed idf) vs DuckDB — full corpus,
    min_df=2 pruning on both sides."""
    from sparvi_core_spark.operators.ranking import tfidf_vectors

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    spark_pdf = tfidf_vectors(df, min_df=2).toPandas()
    duck_pdf = duck.execute(
        """
        WITH toks AS (
          SELECT doc_id,
                 len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS dl,
                 unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
          FROM documents
        ), tf AS (
          SELECT doc_id, dl, term, count(*) AS n FROM toks GROUP BY ALL
        ), dfreq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term HAVING count(*) >= 2
        ), nd AS (SELECT count(*) AS n_docs FROM documents)
        SELECT tf.doc_id, tf.term, tf.n AS tf, dfreq.df,
               round((tf.n::DOUBLE / tf.dl)
                     * (ln((1 + n_docs::DOUBLE)/(1 + dfreq.df::DOUBLE)) + 1), 6) AS tfidf
        FROM tf JOIN dfreq USING (term), nd
        """
    ).df()
    _assert_frames_match("tfidf_vectors", spark_pdf, duck_pdf)


def test_local_perplexity_parity(spark, duck):
    """Self-trained bigram LM perplexity vs the identical add-k
    arithmetic in DuckDB (BOS-prepended contexts, V from the counts
    frame, round(6))."""
    from sparvi_core_spark.functions.lm import score_perplexity, train_bigram_lm

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    lm = train_bigram_lm(df)
    spark_pdf = score_perplexity(df, lm, broadcast_model=True).toPandas()
    duck_pdf = duck.execute(
        """
        WITH base AS (
          SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
          FROM documents
        ), bg AS (
          SELECT doc_id,
                 unnest(list_slice(list_prepend('<s>', l), 1, len(l))) AS w1,
                 unnest(l) AS w2
          FROM base WHERE len(l) > 0
        ), counts AS (SELECT w1, w2, count(*) AS n FROM bg GROUP BY ALL),
        ctx AS (SELECT w1, sum(n) AS c_total FROM counts GROUP BY w1),
        v AS (SELECT count(*) AS v FROM ctx),
        scored AS (
          SELECT bg.doc_id,
                 ln((coalesce(c.n, 0) + 0.1)/(coalesce(cx.c_total, 0) + 0.1*v.v)) AS logp
          FROM bg LEFT JOIN counts c USING (w1, w2) LEFT JOIN ctx cx USING (w1), v
        )
        SELECT doc_id, count(*) AS n_bigrams, round(-avg(logp), 6) AS avg_neg_logp,
               round(exp(-avg(logp)), 6) AS perplexity
        FROM scored GROUP BY doc_id
        """
    ).df()
    _assert_frames_match("score_perplexity", spark_pdf, duck_pdf)


def test_local_top_terms_parity(spark, duck):
    """Corpus df top-20 — left the 50-query pin for bm25_search
    (round 5); identical oracle coverage lives on here (same SQL the
    driver ran in rounds 1-4)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("term"),
    ).filter(F.col("term") != "")
    spark_pdf = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            "term", "df", F.round(F.col("df") / F.lit(n_docs), 4).alias("df_frac")
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(20)
    ).toPandas()
    duck_pdf = duck.execute(
        """
        WITH pairs AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ),
        counts AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM pairs
            WHERE term <> '' GROUP BY term
        )
        SELECT term, df,
               ROUND(df * 1.0 / (SELECT COUNT(*) FROM documents), 4) AS df_frac
        FROM counts ORDER BY df DESC, term ASC LIMIT 20
        """
    ).df()
    _assert_frames_match("top_terms", spark_pdf, duck_pdf)


def test_local_strip_markup_parity(spark, duck):
    """Markup extraction vs the identical regex chain in DuckDB (both
    engines' regexes are in the shared Java∩RE2 subset): documents are
    HTML-ified identically on both sides, then stripped."""
    from pyspark.sql import functions as F

    from sparvi_core_spark.functions.text import strip_markup

    wrapped = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            "doc_id",
            F.concat(
                F.lit("<html><head><style>p{x:1}</style></head><body><p id=\"a\">"),
                F.col("text"),
                F.lit("</p><script>var x=1;</script><!-- c --></body></html>"),
            ).alias("text"),
        )
    )
    spark_pdf = wrapped.select(
        "doc_id", strip_markup("text").alias("extracted")
    ).toPandas()
    duck_pdf = duck.execute(
        r"""
        WITH wrapped AS (
          SELECT doc_id,
                 '<html><head><style>p{x:1}</style></head><body><p id="a">'
                 || text ||
                 '</p><script>var x=1;</script><!-- c --></body></html>' AS t
          FROM documents
        )
        SELECT doc_id,
               trim(regexp_replace(
                 replace(replace(replace(replace(replace(replace(replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(t, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                         '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                       '(?s)<!--.*?-->', ' ', 'g'),
                     '</?[a-zA-Z][^>]*>', ' ', 'g'),
                   '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                   '&quot;', '"'), '&#39;', ''''), '&apos;', ''''),
                 '\s+', ' ', 'g')) AS extracted
        FROM wrapped
        """
    ).df()
    _assert_frames_match("strip_markup", spark_pdf, duck_pdf)


def test_local_vocab_coverage_parity(spark, duck):
    """Vocabulary coverage curve vs the window-cumsum formulation in
    DuckDB (count-desc/term-asc tie order on both sides)."""
    from sparvi_core_spark.functions.text import vocab_coverage

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    spark_pdf = vocab_coverage(df, [10, 100, 1000]).toPandas()
    duck_pdf = duck.execute(
        r"""
        WITH toks AS (
          SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS term
          FROM documents
        ),
        counts AS (SELECT term, count(*) AS n FROM toks GROUP BY term),
        total AS (SELECT sum(n) AS total_tokens FROM counts),
        ranked AS (
          SELECT row_number() OVER (ORDER BY n DESC, term) AS rank,
                 sum(n) OVER (ORDER BY n DESC, term ROWS UNBOUNDED PRECEDING) AS cum
          FROM counts
        ),
        per_k AS (
          SELECT k, CAST(max(rank) AS INT) AS vocab_terms,
                 max(cum) AS covered_tokens
          FROM (VALUES (10), (100), (1000)) ks(k)
          JOIN ranked ON rank <= k GROUP BY k
        )
        SELECT k, vocab_terms,
               CAST(covered_tokens AS BIGINT) AS covered_tokens,
               CAST(total_tokens AS BIGINT) AS total_tokens,
               round(covered_tokens * 1.0 / total_tokens, 6) AS coverage
        FROM per_k, total ORDER BY k
        """
    ).df()
    _assert_frames_match("vocab_coverage", spark_pdf, duck_pdf)


def test_local_simhash_parity(spark, duck):
    """64-bit SimHash signatures — left the 50-query pin for
    `fuzzy_name_pairs` (round 4); identical oracle coverage lives on
    here (same SQL the driver ran in rounds 1-4; the pinned
    `simhash_near` oracle also recomputes signatures from scratch)."""
    spark_pdf = entrymod.q_simhash(spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(
        """
        WITH toks AS (
            SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE doc_id < 50
        ),
        hashed AS (
            SELECT id, md5(tok) AS h FROM toks WHERE tok <> ''
        ),
        bits AS (
            SELECT id, b.bit,
                   ((strpos('0123456789abcdef', substr(h, 16 - (b.bit // 4), 1)) - 1)
                    // CAST(pow(2, b.bit % 4) AS INT)) % 2 AS bitval
            FROM hashed, (SELECT unnest(range(0, 64)) AS bit) b
        ),
        sums AS (
            SELECT id, bit, SUM(CASE WHEN bitval = 1 THEN 1 ELSE -1 END) AS s
            FROM bits GROUP BY id, bit
        )
        SELECT id, CAST(SUM(CASE WHEN s > 0 THEN
                   CASE WHEN bit = 63 THEN -9223372036854775808
                        ELSE CAST(pow(2, bit) AS BIGINT) END
                   ELSE 0 END) AS BIGINT) AS simhash
        FROM sums GROUP BY id
        """
    ).df()
    _assert_frames_match("simhash", spark_pdf, duck_pdf)


def test_local_token_counts_parity(spark, duck):
    """Whitespace + BPE-ish token counts — left the 50-query pin for
    `latest_events` (round 4); same oracle SQL as rounds 1-3."""
    spark_pdf = entrymod.q_token_counts(spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(
        r"""
        SELECT doc_id AS id,
               CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens
        FROM documents WHERE doc_id < 100
        """
    ).df()
    _assert_frames_match("token_counts", spark_pdf, duck_pdf)


def test_local_ivf_probes_parity(spark, duck):
    """Multi-probe IVF assignment (expression-only top-nprobe) vs a
    DuckDB row_number twin over the same per-label centroids: probe
    ranks, buckets, and rounded distances all match."""
    from sparvi_core_spark.operators.similarity import (
        compute_centroids,
        ivf_assign_probes,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = compute_centroids(emb)
    spark_pdf = ivf_assign_probes(
        emb.filter("vec_id < 100"), cents, nprobe=2
    ).toPandas()
    duck_pdf = duck.execute(
        """
WITH ex AS (
    SELECT label AS bucket, unnest(embedding) AS val,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
cent AS (
    SELECT bucket, pos, AVG(CAST(val AS DOUBLE)) AS v FROM ex GROUP BY bucket, pos
),
centroids AS (
    SELECT bucket, list(v ORDER BY pos) AS centroid FROM cent GROUP BY bucket
),
scored AS (
    SELECT e.vec_id AS id, c.bucket,
           ROUND(list_distance(CAST(e.embedding AS DOUBLE[]), c.centroid), 4)
               AS distance
    FROM embeddings e, centroids c
    WHERE e.vec_id < 100
),
ranked AS (
    SELECT id, bucket, distance,
           row_number() OVER (PARTITION BY id ORDER BY distance, bucket) - 1
               AS probe
    FROM scored
)
SELECT id, bucket, probe, distance FROM ranked WHERE probe < 2
"""
    ).df()
    _assert_frames_match("ivf_probes", spark_pdf, duck_pdf)

    # every assignment strategy hits the SAME oracle: "join" carries
    # the centroids as broadcast data (the large-k plan), "blas" as a
    # broadcast NumPy matrix (the large-k kernel) — identical output
    # is the contract, pinned against DuckDB not just against each other
    for strategy in ("join", "blas"):
        strat_pdf = ivf_assign_probes(
            emb.filter("vec_id < 100"), cents, nprobe=2, strategy=strategy
        ).toPandas()
        _assert_frames_match(f"ivf_probes_{strategy}", strat_pdf, duck_pdf)


def test_local_pool_embeddings_parity(spark, duck):
    """Chunk→doc pooling vs a DuckDB unnest/arg twin: weighted mean
    and element-wise max, on synthetic per-vec weights over the real
    embeddings table (vec_id % 7 as the 'document' key)."""
    from pyspark.sql import functions as F

    from sparvi_core_spark.operators.similarity import pool_embeddings

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        (F.col("vec_id") % 7).alias("doc_id"),
        (F.col("vec_id") % 5 + 1).cast("double").alias("w"),
        "embedding",
    )
    for mode, wcol, agg_sql in (
        ("mean", "w", "SUM(CAST(val AS DOUBLE) * w) / SUM(w)"),
        ("max", None, "MAX(CAST(val AS DOUBLE))"),
    ):
        got = pool_embeddings(emb, mode=mode, weight_col=wcol)
        spark_pdf = got.select(
            "doc_id", F.posexplode("embedding").alias("pos", "v")
        ).toPandas()
        duck_pdf = duck.execute(
            f"""
WITH ex AS (
    SELECT vec_id % 7 AS doc_id, vec_id % 5 + 1 AS w,
           unnest(embedding) AS val,
           generate_subscripts(embedding, 1) - 1 AS pos
    FROM embeddings
)
SELECT doc_id, pos, {agg_sql} AS v FROM ex GROUP BY doc_id, pos
"""
        ).df()
        _assert_frames_match(f"pool_{mode}", spark_pdf, duck_pdf)


def test_local_nb_parity(spark, duck):
    """Self-trained Naive Bayes scores vs the identical add-k
    arithmetic in DuckDB (lang labels, exact token features, joint
    log-likelihood rounded to 4 so cross-engine libm/summation-order
    drift on the long sums cannot flip the compare)."""
    from sparvi_core_spark.operators.classify import score_nb, train_nb

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    model = train_nb(df, "lang")
    spark_pdf = score_nb(df, model, round_to=4).toPandas()
    duck_pdf = duck.execute(
        """
        WITH base AS (
          SELECT doc_id, lang,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
          FROM documents
        ),
        pairs AS (
          SELECT lang AS label, unnest(l) AS feature FROM base WHERE lang IS NOT NULL
        ),
        counts AS (SELECT label, feature, count(*) AS n FROM pairs GROUP BY ALL),
        classes AS (
          SELECT c.label, c.total, d.n_docs FROM
            (SELECT label, sum(n) AS total FROM counts GROUP BY label) c
            JOIN (SELECT lang AS label, count(*) AS n_docs FROM base
                  WHERE lang IS NOT NULL GROUP BY lang) d USING (label)
        ),
        dims AS (
          SELECT (SELECT count(DISTINCT feature) FROM counts) AS d,
                 (SELECT count(*) FROM base WHERE lang IS NOT NULL) AS n_docs_all
        ),
        toks AS (SELECT doc_id, unnest(l) AS feature FROM base),
        contrib AS (
          SELECT t.doc_id, c.label,
                 sum(ln(coalesce(cnt.n, 0) + 1.0)) AS loglik,
                 count(*) AS n_tokens
          FROM toks t CROSS JOIN (SELECT label FROM classes) c
          LEFT JOIN counts cnt ON cnt.feature = t.feature AND cnt.label = c.label
          GROUP BY t.doc_id, c.label
        ),
        grid AS (
          SELECT b.doc_id, c.label,
                 coalesce(ct.loglik, 0.0) AS loglik,
                 coalesce(ct.n_tokens, 0) AS n_tokens
          FROM base b CROSS JOIN (SELECT label FROM classes) c
          LEFT JOIN contrib ct ON ct.doc_id = b.doc_id AND ct.label = c.label
        )
        SELECT g.doc_id, g.label, g.n_tokens,
               round(ln(cl.n_docs * 1.0 / dims.n_docs_all) + g.loglik
                     - g.n_tokens * ln(cl.total + 1.0 * dims.d), 4) AS score
        FROM grid g JOIN classes cl ON g.label = cl.label, dims
        """
    ).df()
    _assert_frames_match("score_nb", spark_pdf, duck_pdf)


def test_local_nb_argmax_parity(spark, duck):
    """classify_nb argmax/margin vs an independent pandas reduction
    over the SAME per-class scores — pins the argmax/margin reduction
    separately from the score arithmetic (which test_local_nb_parity
    already pins end-to-end against DuckDB); ties break label-asc."""
    import pandas as pd

    from sparvi_core_spark.operators.classify import classify_nb, score_nb, train_nb

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    model = train_nb(df, "lang")
    spark_pdf = (
        classify_nb(df, model, round_to=4)
        .select("doc_id", "label", "score", "margin")
        .toPandas()
    )
    pdf = score_nb(df, model, round_to=4).toPandas()
    pdf = pdf.sort_values(["doc_id", "score", "label"], ascending=[True, False, True])
    top = pdf.groupby("doc_id").head(2)
    rows = []
    for doc_id, g in top.groupby("doc_id"):
        g = g.reset_index(drop=True)
        margin = round(float(g.score[0] - g.score[1]), 4) if len(g) > 1 else 0.0
        rows.append((doc_id, g.label[0], float(g.score[0]), margin))
    oracle = pd.DataFrame(rows, columns=["doc_id", "label", "score", "margin"])
    _assert_frames_match("classify_nb", spark_pdf, oracle)


def test_local_diversity_parity(spark, duck):
    """corpus_diversity vs the identical SQL in DuckDB (tokenizer,
    entropy-via-Σn·ln(n), head-capped OLS Zipf fit; round(6))."""
    from sparvi_core_spark.operators.diversity import corpus_diversity

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    spark_pdf = corpus_diversity(df, zipf_top=10_000).toPandas()
    duck_pdf = duck.execute(
        """
        WITH base AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
          FROM documents
        ),
        toks AS (SELECT unnest(l) AS tok FROM base),
        freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
        totals AS (
          SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_tokens,
                 count(*) AS vocab_size,
                 max(n) AS top_n,
                 sum(n * ln(n)) AS sum_nlogn
          FROM freq
        ),
        head AS (
          SELECT ln(row_number() OVER (ORDER BY n DESC, tok ASC)) AS x,
                 ln(n) AS y
          FROM freq ORDER BY n DESC, tok ASC LIMIT 10000
        ),
        zipf AS (
          SELECT CASE WHEN var_pop(x) > 0
                      THEN covar_pop(x, y) / var_pop(x) END AS zipf_slope
          FROM head
        ),
        bi AS (
          SELECT doc_id,
                 unnest(list_slice(l, 1, len(l) - 1)) AS w1,
                 unnest(list_slice(l, 2, len(l))) AS w2
          FROM base WHERE len(l) > 1
        ),
        bifreq AS (SELECT w1, w2, count(*) AS n FROM bi GROUP BY ALL),
        bistats AS (
          SELECT coalesce(sum(n), 0) AS n_bigrams,
                 count(*) AS distinct_bigrams
          FROM bifreq
        )
        SELECT (SELECT count(*) FROM base) AS n_docs,
               t.n_tokens, t.vocab_size,
               round(t.vocab_size / (t.n_tokens * 1.0), 6) AS type_token_ratio,
               round(b.distinct_bigrams / (b.n_bigrams * 1.0), 6) AS distinct_2,
               round(ln(t.n_tokens) - t.sum_nlogn / t.n_tokens, 6) AS token_entropy,
               round(t.top_n / (t.n_tokens * 1.0), 6) AS top_token_frac,
               round(z.zipf_slope, 6) AS zipf_slope
        FROM totals t, zipf z, bistats b
        """
    ).df()
    _assert_frames_match("corpus_diversity", spark_pdf, duck_pdf)


def test_local_embedding_health_parity(spark, duck):
    """embedding_health vs the identical list arithmetic in DuckDB
    (per-element double casts, norm moments, round(6))."""
    from sparvi_core_spark.operators.ann_health import embedding_health

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    spark_pdf = embedding_health(emb).toPandas()
    duck_pdf = duck.execute(
        """
        WITH per AS (
          SELECT CASE WHEN embedding IS NULL THEN 1 ELSE 0 END AS is_null,
                 CASE WHEN embedding IS NOT NULL THEN len(embedding) END AS dim,
                 CASE WHEN embedding IS NOT NULL AND
                      len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) > 0
                      THEN 1 ELSE 0 END AS is_nan,
                 CASE WHEN embedding IS NOT NULL AND
                      len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) = 0
                      THEN sqrt(list_sum(list_transform(embedding,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) END AS norm
          FROM embeddings
        )
        SELECT count(*) AS n_vectors,
               CAST(sum(is_null) AS BIGINT) AS n_null,
               count(DISTINCT dim) AS n_dims_distinct,
               min(dim) AS dim_min,
               max(dim) AS dim_max,
               CAST(sum(is_nan) AS BIGINT) AS n_nan,
               CAST(sum(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
               round(avg(norm), 6) AS norm_mean,
               round(stddev_samp(norm), 6) AS norm_std,
               round(min(norm), 6) AS norm_min,
               round(max(norm), 6) AS norm_max
        FROM per
        """
    ).df()
    _assert_frames_match("embedding_health", spark_pdf, duck_pdf)
