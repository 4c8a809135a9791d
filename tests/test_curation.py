"""Curation operator tests: stratified sample proportions + determinism,
hash sample stability across scale factors."""

from gcp_cloudsql_to_bigquery_spark.catalog import load
from gcp_cloudsql_to_bigquery_spark.workload import queries

SF = "/root/testdata/sf0.001"


def test_stratified_proportions_and_determinism(spark):
    d = load(spark, SF, "documents")
    totals = {r.lang: r.n for r in d.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    s1 = queries()["sample_stratified"](spark, SF).collect()
    s2 = queries()["sample_stratified"](spark, SF).collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))  # seeded → stable
    got = {}
    for r in s1:
        got[r.lang] = got.get(r.lang, 0) + 1
    for lang, n in got.items():
        frac = n / totals[lang]
        assert 0.02 <= frac <= 0.95, (lang, frac)  # loose Bernoulli bounds


def test_native_sampleby_seeded_is_stable(spark):
    # Spark's seeded Bernoulli stratified sampler: stable for a fixed seed
    # within Spark (but engine-specific, hence not oracle-able — the
    # registry's sample_stratified uses keyed digests instead)
    d = load(spark, SF, "documents")
    fracs = {r.lang: 0.3 for r in d.select("lang").distinct().collect()}
    s1 = {r.doc_id for r in d.sampleBy("lang", fracs, seed=42).collect()}
    s2 = {r.doc_id for r in d.sampleBy("lang", fracs, seed=42).collect()}
    assert s1 == s2
    assert 0 < len(s1) < d.count()


def test_hash_sample_is_stable_subset_across_sf(spark):
    # the same doc_id keeps/loses membership regardless of corpus size —
    # the property TABLESAMPLE lacks (sf0.001 has ids 0..499; sf0.1 0..4999)
    small = {r.doc_id for r in queries()["sample_hash_based"](spark, SF).collect()}
    big = {r.doc_id for r in queries()["sample_hash_based"](spark, "/root/testdata/sf0.1").collect()}
    assert small == {d for d in big if d < 500}


def test_percentile_approx_accuracy(spark):
    from pyspark.sql import functions as F

    from gcp_cloudsql_to_bigquery_spark.catalog import load

    exact = {
        r.l_returnflag: (r.p50, r.p99)
        for r in load(spark, SF, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
            F.percentile("l_extendedprice", F.lit(0.99)).alias("p99"),
        )
        .collect()
    }
    rows = {r.l_returnflag: r for r in queries()["agg_percentile_approx"](spark, SF).collect()}
    assert set(rows) == set(exact)
    for k, (p50, p99) in exact.items():
        r = rows[k]
        assert abs(r.p50_exact - p50) < 1e-3 and abs(r.p99_exact - p99) < 1e-3
        assert r.p50_in_bounds and r.p99_in_bounds, (k, r)


def test_sessionize_duration_is_exact_at_rounding_boundary(spark, tmp_path):
    """A 1233.6885 s session rounds half-up to 1233.689, as DuckDB's
    microsecond date_diff does; the difference of two double-cast epochs
    (1233.68849992...) would round it down to 1233.688."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = datetime.datetime(2024, 1, 1)
    t1 = t0 + datetime.timedelta(microseconds=1_233_688_500)
    events = pa.table(
        {
            "event_id": pa.array([0, 1], pa.int64()),
            "ts": pa.array([t0, t1], pa.timestamp("us")),
            "user_id": pa.array([7, 7], pa.int64()),
            "event_type": ["view", "view"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }
    )
    pq.write_table(events, tmp_path / "events.parquet")
    (row,) = queries()["sessionize_batch"](spark, str(tmp_path)).collect()
    assert row.n_events == 2
    assert row.duration_sec == 1233.689
