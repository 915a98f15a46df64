"""The DuckDB expectation against the single-node pandas oracle, on a small
generated fixture. No Spark: the expectation must stand on its own."""

import os

import pytest

from perfbench.expect import Expectation
from typical_spark.oracle import duplicate_rows_ref, ordering_violations_ref, transcript_violations
from typical_spark.sources.transcripts import generate_conversations_pdf, generate_transcripts_pdf


@pytest.fixture(scope="module")
def fixture(tmp_path_factory):
    d = tmp_path_factory.mktemp("fixture")
    pdf = generate_transcripts_pdf(6000, seed=5)
    pdf["bucket"] = pdf.index % 4
    cpdf = generate_conversations_pdf(pdf, seed=5)
    for b, part in pdf.groupby("bucket"):
        os.makedirs(d / f"bucket={b}")
        part.drop(columns="bucket").to_parquet(d / f"bucket={b}" / "part.parquet")
    cpdf.to_parquet(d / "conversations.parquet")
    ex = Expectation(str(d))
    ex.register("t", [str(d / "*" / "part.parquet")], hive=True)
    ex.register("c", [str(d / "conversations.parquet")])
    yield pdf, cpdf, ex
    ex.close()


def test_row_checks_match_the_oracle(fixture):
    pdf, _, ex = fixture
    want = transcript_violations(pdf).groupby("check_id").size().to_dict()
    assert ex.row_checks("t") == want
    assert len(want) == 6  # the seeded dirt reaches every row-level check


def test_table_checks_match_the_oracle(fixture):
    pdf, cpdf, ex = fixture
    got = ex.all_checks("t", "c")
    dups = duplicate_rows_ref(pdf, ["conv_id", "turn_idx"], ["ts", "role"])
    order = ordering_violations_ref(pdf).groupby("check_id").size()
    orphans = pdf.conv_id.notna() & ~pdf.conv_id.isin(set(cpdf.conv_id))
    assert got["unique_key"] == len(dups)
    assert got["order_duplicate"] == order["order_duplicate"]
    assert got["order_gap"] == order["order_gap"]
    assert got["referential"] == int(orphans.sum())
    assert got["ts_out_of_order"] > 0


def test_changed_view_upper_cases_role_in_the_changed_buckets_only(fixture):
    pdf, _, ex = fixture
    ex.register_changed("t_changed", "t", (1,))
    changed = pdf.copy()
    hit = changed.bucket == 1
    changed.loc[hit, "role"] = changed.loc[hit, "role"].str.upper()
    want = transcript_violations(changed).groupby("check_id").size().to_dict()
    assert ex.row_checks("t_changed") == want


def test_profile_counts_rows_nulls_and_groups(fixture):
    pdf, _, ex = fixture
    p = ex.profile("t", "bucket")
    assert p["n_rows"] == len(pdf)
    assert p["n_null"]["text"] == int(pdf.text.isna().sum())
    assert p["group_rows"] == {str(b): int(n) for b, n in pdf.bucket.value_counts().items()}
