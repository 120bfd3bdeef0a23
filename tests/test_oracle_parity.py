"""The correctness gate, self-hosted: every oracle-backed query in
__spark_entry__ must hash-match DuckDB at sf0.001 (the driver runs the same
comparison at sf0.01 → CORRECTNESS_r{N}.json)."""

import pytest

from oracle_check import run_all

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def results(spark):
    return run_all(spark, SF)


def test_no_errors(results):
    errs = {k: v["error"] for k, v in results.items() if "error" in v}
    assert not errs, errs


def test_all_oracle_queries_match(results):
    bad = {
        k: v
        for k, v in results.items()
        if "hash_match" in v and not (v["rows_match"] and v["cols_match"] and v["hash_match"])
    }
    assert not bad, {k: (v["spark"][:2], v["oracle"][:2]) for k, v in bad.items()}


def test_dtype_kinds_match(results):
    """int-vs-float column kind mismatches pass our value hash (7.0≡7) but fail
    the driver's stricter normalizer — catch them locally (DuckDB HUGEINT→float64)."""
    bad = {
        k: (v["spark_kinds"], v["oracle_kinds"])
        for k, v in results.items()
        if "kinds_match" in v and not v["kinds_match"]
    }
    assert not bad, bad


def test_every_query_is_oracle_checked(results):
    """Round 2: every queries() entry has a hash-checked DuckDB oracle — the
    former rows-only set (LSH pairs, ADC top-k, partial kNN, hyperplane
    near-dup) was promoted by replaying banding/LUT/hyperplanes in SQL."""
    rows_only = {k for k, v in results.items() if "rows_only" in v}
    assert not rows_only, rows_only


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    assert [f.name for f in df.schema.fields] == ["doc_id", "cosine", "rnk"]


def test_oracle_keys_subset_of_queries():
    import __spark_entry__ as E

    assert set(E.oracle_sql()).issubset(set(E.queries()))


#: Queries whose operators have a driver shortcut chosen by a size cap.
FORCED_DISTRIBUTED = [
    "dedup_clusters",
    "dedup_clusters_star",
    "keyword_labels",
    "dsir_weights",
    "dsir_select",
    "dsir_select_big",
    "decontaminate_bloom",
    "bloom_semi_join",
    "bloom_anti_join",
]


def test_forced_distributed_matches_oracle(spark, force_distributed):
    """With every driver-shortcut cap at 0, the distributed fallbacks (the
    paths that run at scale) must hash-match the same DuckDB oracle."""
    res = run_all(spark, SF, only=FORCED_DISTRIBUTED)
    assert sorted(res) == sorted(FORCED_DISTRIBUTED)
    bad = {
        k: v.get("error") or (v["spark"][:2], v["oracle"][:2])
        for k, v in res.items()
        if not v.get("hash_match") or not (v["rows_match"] and v["cols_match"])
    }
    assert not bad, bad
