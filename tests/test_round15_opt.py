"""Round-15 optimization internals: fine chunking, small-scan fan-out,
minhash persist toggle, pow-free sig() rounding."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def li(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_make_chunks_small_input_caps():
    from spark_df_profiling_spark.plans.wide_agg import (
        _CHUNK_CAP, _CHUNK_CAP_SMALL, make_chunks)
    exprs = ([f"count(`c{i}`) AS `k{i}`" for i in range(40)]
             + [f"approx_count_distinct(`c{i}`) AS `d{i}`"
                for i in range(7)]
             + [f"percentile_approx(`c{i}`, 0.5, 100) AS `q{i}`"
                for i in range(3)])
    for small, caps in ((False, _CHUNK_CAP), (True, _CHUNK_CAP_SMALL)):
        chunks = make_chunks(exprs, small_input=small)
        # partition property: every expr in exactly one chunk
        flat = [e for ch in chunks for e in ch]
        assert sorted(flat) == sorted(exprs)
        for ch in chunks:
            kind = ("object" if "percentile" in ch[0] else
                    "sketch" if "approx_count_distinct" in ch[0]
                    else "light")
            assert len(ch) <= caps[kind]
            # chunks stay buffer-class homogeneous
            assert all(
                ("percentile" in e) == (kind == "object")
                and ("approx_count_distinct" in e) == (kind == "sketch")
                for e in ch)
    # the small caps really are finer where it matters
    assert _CHUNK_CAP_SMALL["object"] == 1
    assert _CHUNK_CAP_SMALL["light"] < _CHUNK_CAP["light"]


def test_chunking_is_value_preserving(spark, li):
    """The same aggregate expressions produce identical values whether
    evaluated as one wide selectExpr or as fine per-class chunks."""
    from spark_df_profiling_spark.plans.wide_agg import make_chunks
    exprs = [
        "count(1) AS `n`",
        "sum(CAST(l_quantity AS DOUBLE)) AS `s`",
        "var_samp(CAST(l_extendedprice AS DOUBLE)) AS `v`",
        "skewness(CAST(l_discount AS DOUBLE)) AS `sk`",
        "approx_count_distinct(l_partkey, 0.05) AS `d`",
        "percentile_approx(CAST(l_tax AS DOUBLE), array(0.5), 1000) "
        "AS `q`",
    ]
    one = li.selectExpr(*exprs).collect()[0].asDict()
    merged = {}
    for ch in make_chunks(exprs, small_input=True):
        merged.update(li.selectExpr(*ch).collect()[0].asDict())
    assert merged == one


def test_parallelize_small_scan_bands(spark, tmp_path, monkeypatch):
    from spark_df_profiling_spark import sources
    from spark_df_profiling_spark.sources import (
        input_bytes, parallelize_small_scan)
    cores = spark.sparkContext.defaultParallelism
    # non-file frame: inert (input_bytes 0)
    local = spark.range(100)
    assert parallelize_small_scan(local) is local
    # in-band file: repartitioned to core count
    p = str(tmp_path / "band.parquet")
    spark.range(200_000).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
    ).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    b = input_bytes(df)
    assert b >= (64 << 10), f"fixture too small to exercise band: {b}"
    out = parallelize_small_scan(df)
    assert out.rdd.getNumPartitions() == cores
    assert out.count() == 200_000
    # above-band: inert
    monkeypatch.setattr(sources, "CORE_SCAN_BYTES", 1)
    big = parallelize_small_scan(df)
    assert big is df


def test_minhash_persist_toggle_identical(spark, sf_dir):
    from spark_df_profiling_spark.operators.dedup import (
        minhash_candidates)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .where(F.col("doc_id") < 300)
    kw = dict(num_hashes=8, jaccard_max_distance=0.5)
    on = {(r.id_a, r.id_b, round(r.jaccard_distance, 9))
          for r in minhash_candidates(docs, "text", "doc_id",
                                      persist_features=True,
                                      **kw).collect()}
    off = {(r.id_a, r.id_b, round(r.jaccard_distance, 9))
           for r in minhash_candidates(docs, "text", "doc_id",
                                       persist_features=False,
                                       **kw).collect()}
    assert on == off and on


def test_sig_pow_free_decimal_tie(spark):
    """The inherited divergence: Java pow(10,-5) is one ulp below 1e-5
    where DuckDB/libm land above, so the exact dyadic 63/64 rounded to
    98438 in Spark and 98437 in DuckDB.  The parsed-'1e<k>' formulas
    must agree on the tie — and on ordinary values."""
    import duckdb

    from spark_df_profiling_spark.oracle import _psig, sig
    cases = [63.0 / 64.0, 0.123456789, 12345.678, 1e-7, 42.0]
    got_spark = spark.createDataFrame(
        [(v,) for v in cases], "v double").select(
        sig(F.col("v")).alias("s")).collect()
    got_duck = [duckdb.sql(f"SELECT {_psig(repr(v))}").fetchone()[0]
                for v in cases]
    assert [r.s for r in got_spark] == got_duck
    assert got_duck[0] == "98438e-1"  # half-up on the exact .5 tie
