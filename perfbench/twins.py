"""Checks every op of a pipeline run against DuckDB over the run's corpus.

* A query with a DuckDB twin (SparkEntry.oracleSql) must match it: columns
  sorted by name, rows sorted, exact for strings and integers, 1e-9 for
  floats (the rules of tools/check_oracle.py).
* q_minhash_dedup has no twin (its 32 xxhash seeds are too costly to
  recompute in SQL). Its pairs are checked against the exact shingle
  Jaccard listing of q_ngram_jaccard's twin: every reported pair is in it
  with the same Jaccard, at least 0.5; every pair of identical texts with
  shingles is reported, since such a pair collides in every band; the
  summary row counts the pairs.
* q_lake_ingest_semantic has no twin (float k-means). Its per-stage
  accounting is checked: batch and zero-norm counts as DuckDB counts them,
  batch = corpus near-dups + intra-batch near-dups + admitted, nothing
  rejected against the empty corpus of the first stage and something
  admitted there, centroids trained by the first stage only.

The lake tables the ingest queries leave are checked on the Spark side
(PipelineWork.scala).
"""
import json
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["documents", "embeddings", "events"]

SEMANTIC_COUNTS = """
SELECT CASE WHEN vec_id % 5 <> 0 THEN '1_seed' ELSE '2_batch' END AS stage,
       count(*) AS batch_rows,
       count(*) FILTER (WHERE list_sum(list_transform(embedding, x -> x * x)) = 0) AS zero_norm
FROM embeddings GROUP BY 1 ORDER BY 1
"""

IDENTICAL_TEXTS = """
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM documents a JOIN documents b ON a.text = b.text AND a.doc_id < b.doc_id
"""


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _differs(got: pd.DataFrame, exp: pd.DataFrame):
    if len(got) == 0 and len(exp) == 0:
        return None
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs twin {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows vs twin {len(exp)}"
    g, e = _canon(got), _canon(exp)
    for c in g.columns:
        gc, ec = g[c], e[c]
        if pd.api.types.is_float_dtype(gc) or pd.api.types.is_float_dtype(ec):
            diff = (gc.astype(float) - ec.astype(float)).abs()
            if (diff > 1e-9).any():
                return f"column {c}: {(diff > 1e-9).sum()} float diffs, max {diff.max()}"
        else:
            neq = gc.astype(str) != ec.astype(str)
            if neq.any():
                i = neq.idxmax()
                return f"column {c}: {neq.sum()} diffs, first spark={gc[i]!r} twin={ec[i]!r}"
    return None


def _minhash_wrong(got: pd.DataFrame, pairs: pd.DataFrame, identical: pd.DataFrame):
    summary = got[got["id_a"] == -1]
    p = got[got["id_a"] != -1]
    if len(summary) != 1 or summary["jaccard"].iloc[0] != len(p):
        return f"summary rows {summary.values.tolist()} for {len(p)} pairs"
    if (p["id_a"] >= p["id_b"]).any() or p.duplicated(["id_a", "id_b"]).any():
        return "pairs not distinct with id_a < id_b"
    m = p.merge(pairs, on=["id_a", "id_b"], how="left", suffixes=("", "_exact"))
    if m["jaccard_exact"].isna().any():
        return f"{int(m['jaccard_exact'].isna().sum())} pairs share no shingle"
    if ((m["jaccard"] - m["jaccard_exact"]).abs() > 1e-9).any() or (p["jaccard"] < 0.5).any():
        return "a Jaccard value differs from the exact one or is below 0.5"
    must = identical.merge(pairs, on=["id_a", "id_b"])
    missing = must.merge(p, on=["id_a", "id_b"], how="left", suffixes=("", "_got"))
    if missing["jaccard_got"].isna().any():
        return f"{int(missing['jaccard_got'].isna().sum())} pairs of identical texts missing"
    return None


def _semantic_wrong(got: pd.DataFrame, counts: pd.DataFrame):
    g = got.sort_values("stage", ignore_index=True)
    why = _differs(g[["stage", "batch_rows", "zero_norm"]], counts)
    if why:
        return why
    split = g["corpus_neardups"] + g["intra_neardups"] + g["admitted"]
    if (split != g["batch_rows"]).any():
        return f"accounting {g.to_dict('records')}"
    if (g["corpus_neardups"][0] != 0 or g["admitted"][0] < 1
            or list(g["centroids_trained"]) != [True, False]):
        return f"first stage {g.iloc[0].to_dict()}, second {g.iloc[1].to_dict()}"
    if ((g["low_affinity"] < 0) | (g["low_affinity"] > g["batch_rows"])).any():
        return f"low_affinity {list(g['low_affinity'])}"
    return None


def check(results: Path, corrupt: bool = False) -> dict:
    """Returns {op id: reason} for every op whose result is wrong. With
    `corrupt`, the first op with a twin is compared against its twin's
    result less one row, which must be reported."""
    spec = json.loads((results / "twins.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{spec['corpus']}/{t}.parquet')")
    cache = {}

    def query(sql: str) -> pd.DataFrame:
        if sql not in cache:
            cache[sql] = con.execute(sql).df()
        return cache[sql]

    bad = {}
    for op in spec["ops"]:
        q = op["query"]
        files = sorted((results / str(op["op"])).glob("*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else None
        try:
            if q in spec["twins"]:
                exp = query(spec["twins"][q])
                if corrupt:
                    exp, corrupt = exp.iloc[:-1], False
                why = _differs(got if got is not None else exp.iloc[:0], exp)
            elif got is None:
                why = "empty result"
            elif q == "q_minhash_dedup":
                why = _minhash_wrong(got, query(spec["pairs"]), query(IDENTICAL_TEXTS))
            elif q == "q_lake_ingest_semantic":
                why = _semantic_wrong(got, query(SEMANTIC_COUNTS))
            else:
                why = "no check for this query"
        except Exception as e:  # a check that cannot run is a failed check
            why = f"check error: {e}"
        if why:
            bad[op["op"]] = f"{q}: {why}"
    con.close()
    return bad
