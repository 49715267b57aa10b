"""Generator determinism: the seed alone fixes every byte of the lake."""

import lake

SPEC = dict(days=1, rows_per_hour=50)


def test_same_seed_same_file_hashes(tmp_path):
    a = lake.generate(lake.LakeSpec(seed=7, **SPEC), str(tmp_path / "a"))
    b = lake.generate(lake.LakeSpec(seed=7, **SPEC), str(tmp_path / "b"), threads=1)
    assert a == b
    ha = lake.file_hashes(str(tmp_path / "a"))
    assert len(ha) == 24
    assert ha == lake.file_hashes(str(tmp_path / "b"))


def test_other_seed_other_files(tmp_path):
    lake.generate(lake.LakeSpec(seed=7, **SPEC), str(tmp_path / "a"))
    lake.generate(lake.LakeSpec(seed=8, **SPEC), str(tmp_path / "b"))
    ha = lake.file_hashes(str(tmp_path / "a"))
    hb = lake.file_hashes(str(tmp_path / "b"))
    assert ha.keys() == hb.keys()
    assert all(ha[k] != hb[k] for k in ha)


def test_layout_and_time_model(tmp_path):
    spec = lake.LakeSpec(seed=1, **SPEC)
    lake.generate(spec, str(tmp_path))
    t = lake.hour_table(spec, 5)
    assert str(t.schema.field("time").type) == "int64"
    lo, hi = lake.hour_start_ns(5), lake.hour_start_ns(6)
    assert lo <= t.column("time")[0].as_py() and t.column("time")[-1].as_py() < hi
    assert lake.hour_dir(str(tmp_path), 5).endswith("date=2024-03-01/hour=05")
