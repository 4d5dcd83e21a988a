"""The benchmark workloads: inputs, one operation, and its output check.

``op(spark, span)`` runs one operation as a user would and returns what it
produced; ``span(name)`` is a context manager that records a trace span in
a traced op and does nothing otherwise.  ``check(out)`` lists the ways the
output differs from the oracle's expectations."""

from __future__ import annotations

from pyspark.sql import functions as F

import gen
import oracle
from spark_df_profiling_spark import ProfileConfig
from spark_df_profiling_spark import report as R
from spark_df_profiling_spark.operators import dedup as D
from spark_df_profiling_spark.operators import profile as P
from spark_df_profiling_spark.operators import similarity as SIM
from spark_df_profiling_spark.operators import text as TX


class ProfileCatalog:
    """profile_many() over a small warehouse, then every profile's
    variables collected and its HTML report rendered."""

    name = "profile_catalog"
    warmup_ops = 0  # the run budget affords none at ~15 s an op

    def __init__(self, seed: int, out_dir: str) -> None:
        self.tables = gen.catalog(seed, out_dir)
        self.expect = {n: oracle.profile_expectations(t.path)
                       for n, t in self.tables.items()}
        self.rows = sum(t.rows for t in self.tables.values())

    def op(self, spark, span):
        dfs = {n: spark.read.parquet(t.path) for n, t in self.tables.items()}
        with span("profile_many"):
            results = P.profile_many(dfs, ProfileConfig())
        out = {}
        for name, res in results.items():
            with span("profile.collect"):
                rows = [r.asDict(recursive=True) for r in res.variables.collect()]
            with span("report.render"):
                html = R.render_html(res)
            out[name] = (rows, html)
        return out

    def check(self, out) -> list[str]:
        if list(out) != list(self.tables):
            return [f"profiled tables {list(out)}"]
        return [p for name, (rows, html) in out.items()
                for p in oracle.check_profile(name, rows, html,
                                              self.expect[name])]


class LlmDedup:
    """Text features, exact dedup, MinHash near-dup candidates and a
    brute-force kNN: the LLM-data operators, no profile core."""

    name = "llm_dedup"
    warmup_ops = 2  # op times level off from the fourth op on

    def __init__(self, seed: int, out_dir: str) -> None:
        self.tables, self.queries = gen.llm(seed, out_dir)
        self.expect = oracle.llm_expectations(
            self.tables["documents"].path, self.tables["embeddings"].path,
            self.queries)
        self.rows = sum(t.rows for t in self.tables.values())
        self._shingles: dict = {}

    def op(self, spark, span):
        docs = spark.read.parquet(self.tables["documents"].path)
        emb = spark.read.parquet(self.tables["embeddings"].path)
        with span("text.features"):
            f = TX.text_features(docs, "text").agg(
                F.count(F.lit(1)), F.sum("f_n_tokens"), F.avg("f_quality"),
                F.count_distinct("f_fingerprint"),
                F.count_distinct("f_lang")).collect()[0]
        with span("dedup.exact"):
            kept = D.exact_dedup(docs, cols=["text"], order_col="doc_id").count()
        with span("dedup.minhash"):
            cands = D.minhash_candidates(
                docs, "text", "doc_id",
                jaccard_max_distance=oracle.MINHASH_MAX_DISTANCE)
            pairs = [(r.id_a, r.id_b)
                     for r in cands.select("id_a", "id_b").collect()]
            cands._minhash_features.unpersist()
        with span("similarity.knn"):
            knn = [tuple(r) for r in SIM.knn_bruteforce(
                emb, emb.where(F.col("vec_id").isin(self.queries)),
                k=oracle.KNN_K).select("query_id", "neighbor_id",
                                       "rank").collect()]
        return {"features": (f[0], f[1]), "exact": kept, "pairs": pairs,
                "knn": knn}

    def check(self, out) -> list[str]:
        return oracle.check_llm(out, self.expect)

    def precision(self, out) -> float | None:
        return oracle.minhash_precision(out["pairs"], self.expect,
                                        self._shingles)


WORKLOADS = {w.name: w for w in (ProfileCatalog, LlmDedup)}
