"""Tests of the seeded bronze generator (needs the sf0.1 test data)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bronze  # noqa: E402
from run import SF_DIR as SF  # noqa: E402
pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason="no sf0.1 test data")


@pytest.fixture(scope="module")
def seed7():
    return bronze.generate(SF, 7)


def test_same_seed_gives_identical_bytes_and_expectations(seed7, tmp_path):
    again = bronze.generate(SF, 7)
    assert again == seed7
    a, b = tmp_path / "a", tmp_path / "b"
    bronze.write(SF, str(a), 7)
    bronze.write(SF, str(b), 7)
    for rel in ["expect.json"] + [f"b{n}/{e}.csv" for n in (1, 2) for e in bronze.ENTITIES]:
        assert (a / rel).read_bytes() == (b / rel).read_bytes()


def test_other_seed_gives_other_inputs(seed7):
    texts, exp = bronze.generate(SF, 8)
    assert texts != seed7[0]
    assert exp["entities"] != seed7[1]["entities"]


@pytest.mark.parametrize("batch", ["1", "2"])
def test_each_batch_has_duplicates_format_variants_and_rejects(seed7, batch):
    _, exp = seed7
    for entity in bronze.ENTITIES:
        b = exp["entities"][entity]["batches"][batch]
        assert b["rows_rejected"] > 0, entity
        assert b["rows_in"] == b["rows_out"] + b["rows_rejected"] + b["rows_deduped"]
        if bronze.DATE_AT[entity] is not None:
            assert all(n > 0 for n in b["formats_used"]), entity
    assert sum(exp["entities"][e]["batches"][batch]["duplicate_lines"] for e in bronze.ENTITIES) > 0


def test_rendered_dates_parse_back_under_the_first_matching_format():
    import datetime as dt

    for day in (dt.date(2024, 3, 5), dt.date(2024, 11, 30)):
        for i in range(4):
            text, f = bronze.render_date(day, i)
            if f == 3:
                assert day.day > 12  # else dd/MM/yyyy would match first
            if f == 0:
                assert dt.datetime.strptime(text, "%d-%b-%y").date() == day


def test_formats_match_the_engine_parser():
    pytest.importorskip("pyspark")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    from lakeforge.functions.dates import DEFAULT_DATE_FORMATS

    assert bronze.SPARK_FORMATS == DEFAULT_DATE_FORMATS
