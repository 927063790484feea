"""Seeded ``documents`` and ``embeddings`` tables for the text, dedup and
ANN queries of ``__spark_entry__.queries()``, and their DuckDB oracle check.

The tables have the schema of the project's test tables (``doc_id, text,
lang, source, n_chars`` and ``vec_id, embedding, label``) and are written
with pyarrow, so making them starts no Spark job. Some documents repeat an
earlier text exactly and some extend one, so the dedup queries have work
to find.
"""

from __future__ import annotations

import os

import numpy as np

N_DOCS = 500
N_VECS = 500
EMB_DIM = 64
N_LABELS = 10
N_EXACT_DUPS = 10
N_NEAR_DUPS = 25
VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.15, 0.14, 0.12)

#: text, dedup and ANN queries of the r1 "core-18" query list, one or two
#: per operator module: dedup_exact and minhash_signature
#: (operators.dedup), knn_cosine and knn_ivf (operators.similarity),
#: curate_corpus (operators.curate over textops) and text_quality (SQL
#: text functions)
QUERIES = ("dedup_exact", "minhash_signature", "knn_cosine", "knn_ivf", "curate_corpus",
           "text_quality")


def write_tables(out_dir: str, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    texts = []
    for i in range(N_DOCS):
        if i >= N_DOCS - N_EXACT_DUPS:
            texts.append(texts[int(rng.integers(0, N_DOCS // 2))])
        elif i >= N_DOCS - N_EXACT_DUPS - N_NEAR_DUPS:
            texts.append(texts[int(rng.integers(0, N_DOCS // 2))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    langs = rng.choice(LANGS, size=N_DOCS, p=LANG_P)
    docs = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(size=(N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, N_VECS)
    vecs = centers[labels] + 0.7 * rng.normal(size=(N_VECS, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def check_rows(collected: dict, data_dir: str) -> dict:
    """{query: error or None} for ``collected`` = {query: (columns, rows)}:
    each query's rows against its DuckDB oracle over the same files, with
    ``tools/check_oracle.py``'s rules (row count, column names, values to
    15 significant digits). ``knn_ivf`` has no SQL oracle (its centroids
    are trained): each query vector must get at most k distinct
    neighbours whose scores equal the NumPy cosine of the pair."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracle import norm

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name, (columns, rows) in collected.items():
        if name == "knn_ivf":
            out[name] = check_knn_ivf(rows, data_dir)
            continue
        tbl = con.execute(oracles[name]).arrow()
        cols = sorted(columns)
        if cols != sorted(tbl.column_names):
            out[name] = f"{name}: columns {cols}, oracle {sorted(tbl.column_names)}"
            continue
        got = sorted(tuple(norm(r[c]) for c in cols) for r in (x.asDict() for x in rows))
        want = sorted(tuple(norm(r[c]) for c in cols) for r in tbl.to_pylist())
        out[name] = None if got == want else (
            f"{name}: {len(got)} rows, oracle {len(want)}; first differences "
            f"{[(a, b) for a, b in zip(got, want) if a != b][:2]}")
    con.close()
    return out


def check_knn_ivf(rows, data_dir: str) -> str | None:
    import pyarrow.parquet as pq

    from usgs_geomag_algorithms_spark.webtext_queries import KNN_K, N_QUERY_VECS

    tbl = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    vecs = np.stack(tbl["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    ids = tbl["vec_id"].to_numpy()
    pos = {int(v): i for i, v in enumerate(ids)}
    per_query: dict = {}
    for r in rows:
        d = r.asDict()
        q, n, score = d["q_id"], d["n_id"], d["cosine"]
        per_query.setdefault(q, []).append(n)
        a, b = vecs[pos[q]], vecs[pos[n]]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        if abs(score - want) > 1e-6:
            return f"knn_ivf: score({q}, {n}) = {score}, cosine {want}"
    if sorted(per_query) != list(range(N_QUERY_VECS)):
        return f"knn_ivf: answered queries {sorted(per_query)}"
    for q, ns in per_query.items():
        if len(ns) > KNN_K or len(set(ns)) != len(ns):
            return f"knn_ivf: query {q} neighbours {ns}"
    return None
