import pandas as pd
import pyarrow as pa
import pytest

from perfbench import datagen, hrgen


@pytest.mark.parametrize("n", [60, 2000])
def test_hr_generator_is_deterministic_per_seed(n):
    a, b, c = hrgen.build_hr(7, n), hrgen.build_hr(7, n), hrgen.build_hr(8, n)
    for t in hrgen.HR_FILES:
        pd.testing.assert_frame_equal(a[t], b[t])
    assert any(not a[t].equals(c[t]) for t in hrgen.HR_FILES)


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("n", [60, 2000])
def test_every_fixture_edge_row_is_present(seed, n):
    present = hrgen.edge_rows_present(hrgen.build_hr(seed, n))
    assert all(present.values()), [k for k, v in present.items() if not v]


def test_csvs_round_trip_and_goldens_clean(tmp_path):
    counts = hrgen.write_hr_csvs(str(tmp_path), 5, 500)
    assert counts["employees"] == 500
    want = hrgen.golden(str(tmp_path))
    for t in hrgen.HR_FILES:
        assert 0 < len(want[t]) <= counts[t]
    # the duplicate department row and inactive/zero-salary rows go
    assert len(want["departments"]) == counts["departments"] - 1
    assert len(want["employees"]) < counts["employees"]
    emp_perf = want["summary_emp_performance"]
    assert (emp_perf["department_name"] == "Unknown").any()
    assert emp_perf["avg_rating"].isna().any()  # review-less employees


def test_hr_dates_are_iso_dates(tmp_path):
    hrgen.write_hr_csvs(str(tmp_path), 3, 200)
    for t, cols in (("projects", ["start_date", "end_date"]),
                    ("project_assignments", ["start_date", "end_date"])):
        df = pd.read_csv(tmp_path / f"{t}.csv", dtype=str)
        for c in cols:
            assert df[c].dropna().str.fullmatch(r"\d{4}-\d{2}-\d{2}").all(), (t, c)


def test_table_generator_is_deterministic_and_typed():
    a, b = datagen.build_tables(3, 0.001), datagen.build_tables(3, 0.001)
    assert set(a) == set(datagen.TABLES)
    for t in datagen.TABLES:
        assert a[t].equals(b[t]), t
    assert a["lineitem"].schema.field("l_linenumber").type == pa.int32()
    assert a["lineitem"].schema.field("l_shipdate").type == pa.timestamp("us")
    assert a["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    assert a["lineitem"].num_rows == datagen.table_sizes(0.001)["lineitem"]


def test_dataset_writes_every_table(tmp_path):
    datagen.write_dataset(str(tmp_path), 1, 0.001)
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        f"{t}.parquet" for t in datagen.TABLES)


def test_scale_01_row_counts_match_the_sf01_test_data():
    # row counts of the engine's sf0.1 test tables
    assert datagen.table_sizes(0.1) == {
        "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
        "part": 20_000, "orders": 150_000, "lineitem": 600_000,
        "events": 100_000, "documents": 5_000, "embeddings": 2_000,
    }


def test_document_duplicate_shares():
    docs = datagen.build_tables(4, 0.1)["documents"].to_pandas()
    near = docs["text"].str.endswith(" dup").mean()
    exact = docs["text"].duplicated().mean()
    assert 0.04 < near < 0.06 and 0.0005 < exact < 0.004, (near, exact)
