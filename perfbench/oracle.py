"""Expected outputs, computed once at set-up with DuckDB and numpy and
never with the program under test, plus the checks that compare an op's
output against them.  A check returns a list of problems; an empty list
means the output is correct."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Accuracy the profiler promises at its default configuration:
# approx_count_distinct at rsd 0.05 and percentile_approx at accuracy 10000.
DISTINCT_RSD = 0.05
DISTINCT_SIGMAS = 4.0
QUANTILE_ACCURACY = 10_000
# Pearson correlation at or above which the later column of a pair is
# rejected (the default ProfileConfig.corr_reject), and the tolerance on a
# reported correlation
CORR_REJECT = 0.9
CORR_TOL = 1e-6
QUANTILES = {"q05": 0.05, "q25": 0.25, "q50": 0.5, "q75": 0.75, "q95": 0.95}
TOP_K = 50
MINHASH_MAX_DISTANCE = 0.3
SHINGLE_N = 3
KNN_K = 10
KNN_TIE = 1e-9


def _rel_close(got, want, rel: float = 1e-9) -> bool:
    return got is not None and abs(got - want) <= rel * max(1.0, abs(want))


def _kind(t: pa.DataType) -> str:
    # nanosecond timestamps are read as epoch-nanos longs
    if pa.types.is_integer(t) or pa.types.is_floating(t) \
            or (pa.types.is_timestamp(t) and t.unit == "ns"):
        return "numeric"
    if pa.types.is_temporal(t):
        return "temporal"
    if pa.types.is_string(t):
        return "string"
    return "other"


# type_class a column must get, by kind, when it has more than one value
_CLASSES = {"numeric": {"NUM", "CORR"}, "temporal": {"DATE"},
            "string": {"CAT", "UNIQUE"}}


def _numeric(column: pa.ChunkedArray) -> np.ndarray:
    """Values as float64, nulls as NaN."""
    if pa.types.is_timestamp(column.type):
        column = column.cast(pa.int64())
    return column.to_numpy(zero_copy_only=False).astype(np.float64)


def _pearson(table: pa.Table, names: list[str]) -> dict[tuple[str, str], float]:
    """Pearson correlation of every ordered pair of ``names`` over the rows
    where none of them is null."""
    if len(names) < 2:
        return {}
    x = np.column_stack([_numeric(table.column(c)) for c in names])
    x = x[~np.isnan(x).any(axis=1)]
    if len(x) < 2:
        return {}
    rho = np.corrcoef(x, rowvar=False)
    return {(a, b): float(rho[i, j]) for i, a in enumerate(names)
            for j, b in enumerate(names) if i != j}


def profile_expectations(path: str) -> dict:
    """Per-column row/null/distinct counts, expected type class, min/max/
    mean, quantile rank windows and exact value counts of one table, and
    the Pearson correlation of its numeric columns."""
    table = pq.read_table(path)
    con = duckdb.connect()
    src = f"read_parquet('{path}')"
    n = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
    cols: dict[str, dict] = {}
    for field, column in zip(table.schema, table.columns):
        q = f'"{field.name}"'
        kind = _kind(field.type)
        e: dict = {}
        if pa.types.is_list(field.type):
            e["count"] = con.execute(
                f"SELECT count({q}) FROM {src}").fetchone()[0]
            cols[field.name] = e
            continue
        e["count"], e["distinct"] = con.execute(
            f"SELECT count({q}), count(DISTINCT {q}) FROM {src}").fetchone()
        if e["distinct"] <= 1:
            e["classes"] = {"CONST"}
        elif kind in _CLASSES:
            e["classes"] = _CLASSES[kind]
        # CAT, UNIQUE and CONST columns all get a frequency table
        e["freq"] = e["count"] > 0 and (kind == "string" or e["distinct"] <= 1)
        if kind == "numeric" and e["distinct"] > 1:
            v = _numeric(column)
            v = np.sort(v[~np.isnan(v)])
            e.update(min=float(v[0]), max=float(v[-1]), mean=float(v.mean()))
            eps = 1.0 / QUANTILE_ACCURACY
            e["quantiles"] = {
                k: (float(v[max(0, math.floor((p - eps) * len(v)) - 1)]),
                    float(v[min(len(v) - 1, math.ceil((p + eps) * len(v)))]))
                for k, p in QUANTILES.items()}
        if kind == "string":
            e["values"] = dict(con.execute(
                f"SELECT {q}, count(*) FROM {src} WHERE {q} IS NOT NULL "
                f"GROUP BY {q}").fetchall())
            e["top_counts"] = sorted(e["values"].values(), reverse=True)[:TOP_K]
        cols[field.name] = e
    con.close()
    numeric = [c for c, e in cols.items() if "mean" in e]
    return {"n": n, "cols": cols, "corr": _pearson(table, numeric)}


def check_profile(name: str, rows: list[dict], html: str, exp: dict) -> list[str]:
    """Compare one table's profile rows and report against expectations.
    Which checks apply is decided by the expectations alone, never by what
    the profile reports: a missing statistic is a wrong one."""
    bad: list[str] = []
    if [r["column"] for r in rows] != list(exp["cols"]):
        return [f"{name}: profiled columns {[r['column'] for r in rows]}"]
    rejected = set()
    for r in rows:
        c, e = r["column"], exp["cols"][r["column"]]
        where = f"{name}.{c}"
        if r["n"] != exp["n"] or r["count"] != e["count"] \
                or r["n_missing"] != exp["n"] - e["count"]:
            bad.append(f"{where}: n/count/missing {r['n']}/{r['count']}/"
                       f"{r['n_missing']} want {exp['n']}/{e['count']}")
        if "distinct" in e:
            tol = max(1.0, DISTINCT_SIGMAS * DISTINCT_RSD * e["distinct"])
            if r["distinct_count"] is None \
                    or abs(r["distinct_count"] - e["distinct"]) > tol:
                bad.append(f"{where}: distinct {r['distinct_count']} "
                           f"want {e['distinct']}±{tol:.0f}")
        if "classes" in e and r["type_class"] not in e["classes"]:
            bad.append(f"{where}: type_class {r['type_class']} "
                       f"want one of {sorted(e['classes'])}")
        if "mean" in e:
            for stat, key in (("min", "min_num"), ("max", "max_num"),
                              ("mean", "mean")):
                if not _rel_close(r[key], e[stat]):
                    bad.append(f"{where}: {stat} {r[key]} want {e[stat]}")
            for k, (lo, hi) in e["quantiles"].items():
                if r[k] is None or not lo <= r[k] <= hi:
                    bad.append(f"{where}: {k} {r[k]} outside [{lo}, {hi}]")
        if e.get("freq") and not r["freq"]:
            bad.append(f"{where}: no frequency table")
        if "values" in e and r["freq"]:
            freq = [(f["value"], f["cnt"]) for f in r["freq"]
                    if f["value"] is not None]
            wrong = [(v, k) for v, k in freq if e["values"].get(v) != k]
            got_counts = sorted((k for _, k in freq), reverse=True)
            if wrong or got_counts != e["top_counts"][:len(got_counts)] \
                    or len(freq) < min(TOP_K, len(e["values"])):
                bad.append(f"{where}: top-k {freq[:3]}... wrong={wrong[:3]}")
        if r["type_class"] == "CORR":
            rejected.add(c)
            rho = exp["corr"].get((c, r["corr_with"]))
            if rho is None or rho < CORR_REJECT - CORR_TOL \
                    or r["corr_value"] is None \
                    or abs(r["corr_value"] - rho) > CORR_TOL:
                bad.append(f"{where}: rejected as correlated with "
                           f"{r['corr_with']} at {r['corr_value']}, "
                           f"want correlation {rho}")
        if c not in html:
            bad.append(f"{where}: missing from the report")
    # of every pair above the threshold, at least one column is rejected
    for (a, b), rho in exp["corr"].items():
        if a < b and rho >= CORR_REJECT + CORR_TOL \
                and not {a, b} & rejected:
            bad.append(f"{name}: {a} and {b} correlate at {rho:.6f}, "
                       "neither is rejected")
    return bad


def _tokens(text: str) -> list[str]:
    # pyspark.ml Tokenizer: lower-case, split on single whitespace
    return text.lower().split(" ")


def shingles(text: str) -> frozenset:
    t = _tokens(text)
    return frozenset(" ".join(t[i:i + SHINGLE_N])
                     for i in range(len(t) - SHINGLE_N + 1))


def llm_expectations(docs_path: str, emb_path: str, queries: list[int]) -> dict:
    """Token totals, distinct texts, identical-text pairs and the exact
    cosine top-k of every query."""
    con = duckdb.connect()
    src = f"read_parquet('{docs_path}')"
    n_docs, n_distinct = con.execute(
        f"SELECT count(*), count(DISTINCT text) FROM {src}").fetchone()
    texts = dict(con.execute(f"SELECT doc_id, text FROM {src}").fetchall())
    # MinHash is undefined for documents with no shingle, so those pairs
    # cannot be candidates
    same = {(a, b) for a, b in con.execute(
        f"SELECT a.doc_id, b.doc_id FROM {src} a JOIN {src} b "
        f"ON a.text = b.text AND a.doc_id < b.doc_id").fetchall()
        if shingles(texts[a])}
    con.close()
    tokens = sum(len(t.split(" ")) for t in texts.values())

    emb = pq.read_table(emb_path)
    ids = emb.column("vec_id").to_numpy()
    vec = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)
                   ).astype(np.float64)
    unit = vec / np.linalg.norm(vec, axis=1, keepdims=True)
    pos = {int(i): k for k, i in enumerate(ids)}
    knn = {}
    for q in queries:
        sims = unit @ unit[pos[q]]
        sims[pos[q]] = -np.inf  # self-matches are excluded
        order = np.lexsort((ids, -sims))[:KNN_K]
        knn[q] = {"ids": [int(ids[k]) for k in order],
                  "kth": float(sims[order[-1]]),
                  "sim": {int(i): float(s) for i, s in zip(ids, sims)}}
    return {"n_docs": n_docs, "n_distinct": n_distinct, "tokens": tokens,
            "same_pairs": same, "knn": knn, "texts": texts}


def check_llm(out: dict, exp: dict) -> list[str]:
    bad: list[str] = []
    if out["features"] != (exp["n_docs"], exp["tokens"]):
        bad.append(f"text_features rows/tokens {out['features']} want "
                   f"{(exp['n_docs'], exp['tokens'])}")
    if out["exact"] != exp["n_distinct"]:
        bad.append(f"exact_dedup kept {out['exact']} want {exp['n_distinct']}")
    missing = exp["same_pairs"] - set(out["pairs"])
    if missing:
        bad.append(f"minhash missed {len(missing)} identical pairs, "
                   f"e.g. {sorted(missing)[:3]}")
    got: dict[int, list[int]] = {}
    for q, nb, rank in sorted(out["knn"], key=lambda r: (r[0], r[2])):
        got.setdefault(q, []).append(nb)
    for q, e in exp["knn"].items():
        g = got.get(q, [])
        diff = set(g) ^ set(e["ids"])
        if len(g) != KNN_K or any(abs(e["sim"][i] - e["kth"]) > KNN_TIE
                                  for i in diff):
            bad.append(f"knn query {q}: {g} want {e['ids']}")
    return bad


def minhash_precision(pairs: list[tuple[int, int]], exp: dict,
                      cache: dict) -> float | None:
    """Share of candidate pairs whose exact shingle Jaccard distance is
    within the requested threshold."""
    if not pairs:
        return None
    def sh(doc: int) -> frozenset:
        if doc not in cache:
            cache[doc] = shingles(exp["texts"][doc])
        return cache[doc]

    good = sum(1 - len(sh(a) & sh(b)) / len(sh(a) | sh(b))
               <= MINHASH_MAX_DISTANCE for a, b in pairs)
    return good / len(pairs)
