"""The generator is a pure function of (workload, seed)."""

from __future__ import annotations

import os

import pytest

import gen

SMALL = {
    "topic": {"messages": 5_000, "files": 4, "backlog_messages": 3_000, "backlog_files": 3},
    "corpus_dedup": {"docs": 120, "vectors": 300},
}


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.fixture(autouse=True)
def small_sizes(monkeypatch):
    monkeypatch.setattr(gen, "SIZES", SMALL)


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_gives_byte_identical_inputs(workload, tmp_path):
    gen.generate(workload, 7, str(tmp_path / "a"))
    gen.generate(workload, 7, str(tmp_path / "b"))
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert a and a == b


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_other_seed_gives_other_inputs(workload, tmp_path):
    gen.generate(workload, 7, str(tmp_path / "a"))
    gen.generate(workload, 8, str(tmp_path / "b"))
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    parquet = [k for k in a if k.endswith(".parquet")]
    assert parquet and all(a[k] != b[k] for k in parquet)


def test_log_truth_matches_written_files(tmp_path):
    """The sidecar's figures are those of the parquet files, and file i
    holds the i-th offset slice of every partition."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    truth = gen.generate("topic", 3, str(tmp_path))["backlog"]
    main = tmp_path / "backlog"
    tables = [pq.read_table(main / f) for f in sorted(os.listdir(main))]
    whole = pq.read_table(main)
    assert whole.num_rows == truth["messages"]
    for want in truth["partitions"]:
        part = whole.filter(pc.equal(whole["partition"], want["partition"]))
        assert part.num_rows == want["total"]
        assert pc.min(part["offset"]).as_py() == want["start_offset"]
        assert pc.max(part["offset"]).as_py() + 1 == want["end_offset"]
        assert part["value"].null_count == want["tombstones"]
        assert part["key"].null_count == want["key_null"]
        # contiguous offsets
        assert want["end_offset"] - want["start_offset"] == want["total"]
    for earlier, later in zip(tables, tables[1:]):
        for p in range(gen.KAFKA_PARTITIONS):
            e = earlier.filter(pc.equal(earlier["partition"], p))["offset"]
            lt = later.filter(pc.equal(later["partition"], p))["offset"]
            if len(e) and len(lt):
                assert pc.max(e).as_py() < pc.min(lt).as_py()
    mtimes = [os.path.getmtime(main / f) for f in sorted(os.listdir(main))]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
